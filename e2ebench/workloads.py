"""The two workloads, their checks and their metrics.

``search``: read-heavy interactive and batch search on one bulk-built
index held by a single searcher; after the timed phase a small ingest
probe (two commits of ``append`` and ``maybe_merge``, the second one
merging, each followed by fresh-searcher queries) gives the ingest
metrics every run reports.

``index``: a bulk build into a fresh directory, then micro-batch
appends with ``maybe_merge``; after each commit a fresh searcher runs
queries and a searcher opened before the commit is queried again.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import inputs as I
from reference import Collection, check_topk
from spans import Recorder

K = 10


class CheckFailed(Exception):
    pass


def _files(path: str) -> dict[tuple[int, int], int]:
    """(inode, mtime) -> size of every file under ``path``: hard links
    count once, and a new file that reuses a freed inode still counts
    as new."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                st = os.stat(os.path.join(root, n))
            except FileNotFoundError:
                continue
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def _bytes_written(before: dict, after: dict) -> int:
    return sum(sz for f, sz in after.items() if f not in before)


def _content_bytes(docs: list[I.Doc]) -> int:
    return sum(len(d.content.encode()) for d in docs)


def _is_missing_file(exc: Exception) -> bool:
    msg = str(exc)
    return "FILE_NOT_EXIST" in msg or "does not exist" in msg


class Run:
    """State shared by both workloads: session, recorder, work dir."""

    def __init__(self, spark, rec: Recorder, work: str, seed: int,
                 seconds: float, cores: int):
        from lucene_1_spark.index.builder import IndexConfig

        self.spark, self.rec, self.work = spark, rec, work
        self.seed, self.seconds = seed, seconds
        self.rng = np.random.default_rng(seed)
        self.warm_rng = np.random.default_rng([seed, 1])
        self.cfg = IndexConfig(n_buckets=cores, n_doc_partitions=cores)
        self.first_timed: float | None = None
        self.checks: list[tuple] = []   # deferred result checks
        self.snaps: list[tuple] = []    # (docs, when, (live, stats))
        self.facts: dict = {}
        self.last_index = ""             # for the traced kernel figures
        self.texts: list[str] = []

    # -- helpers -----------------------------------------------------------
    def deal(self, sizes: list[int]) -> list[list[I.Doc]]:
        """Consecutive slices of one corpus draw for the run's seed, so
        that no two documents of a run share a key."""
        docs, out, at = I.make_docs(self.seed, sum(sizes)), [], 0
        for n in sizes:
            out.append(docs[at:at + n])
            at += n
        return out

    def frame(self, docs: list[I.Doc]):
        return self.spark.createDataFrame(pd.DataFrame(I.doc_rows(docs)))

    def op(self, kind: str, phase: str = "timed", n: int = 1):
        if phase == "timed" and self.first_timed is None:
            self.first_timed = time.time()
        return self.rec.op(kind, phase, n)

    def searcher(self, path: str):
        from lucene_1_spark.index import IndexReader
        from lucene_1_spark.search import IndexSearcher
        return IndexSearcher(IndexReader(self.spark, path))

    def build(self, path: str, docs: list[I.Doc], phase: str) -> None:
        from lucene_1_spark.index import build_index
        src = self.frame(docs)
        with self.op("build", phase, n=len(docs)):
            build_index(self.spark, src, path, self.cfg)
        files = _files(path)
        self.facts.setdefault("build_files", []).append(len(files))
        self.facts.setdefault("build_bytes", []).append(
            (sum(files.values()), _content_bytes(docs)))

    def single(self, s, q: I.Query, kind: str, phase: str, coll_n: int,
               path: str | None = None):
        """One ``search``; with ``path`` the searcher is opened inside
        the timed op (a fresh searcher)."""
        with self.op(kind, phase) as o:
            if path is not None:
                s = self.searcher(path)
            hits = s.search(q.text, k=K)
        o.rows = len(hits)
        self.checks.append(("single", q, hits, coll_n))
        return s, hits

    def batch(self, s, qs: list[I.Query], kind: str, phase: str,
              coll_n: int) -> None:
        with self.op(kind, phase, n=len(qs)) as o:
            rows = s.search_many({f"q{i}": q.text for i, q in enumerate(qs)},
                                 k=K).collect()
        o.rows = len(rows)
        got: dict[str, list] = {f"q{i}": [] for i in range(len(qs))}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        for i, q in enumerate(qs):
            self.checks.append(("batch", q, got[f"q{i}"], coll_n))

    def stats_snapshot(self, path: str, terms: list[str]) -> tuple:
        """(live docs, terms, term_statistics) from a fresh reader."""
        from lucene_1_spark.index import IndexReader
        r = IndexReader(self.spark, path)
        terms = sorted(set(terms))
        return r.n_live_docs(), terms, r.term_statistics(terms)

    # -- checks ------------------------------------------------------------
    def verify(self, coll: Collection, upto: int) -> None:
        """Check every deferred result and stats snapshot taken when the
        index held ``upto`` docs."""
        for n, when, snap in self.snaps:
            if n == upto:
                self.verify_stats(coll, snap, f"{when} at {n} docs")
        for kind, q, got, n in self.checks:
            if n != upto:
                continue
            ranked = coll.rank(q.must, q.should)
            if kind == "single":
                pairs = [(int(h["doc_id"]), float(h["score"])) for h in got]
                for h in got:
                    if coll.keys[int(h["doc_id"])] != h["doc_key"]:
                        raise CheckFailed(
                            f"{q.text!r}: doc {h['doc_id']} is "
                            f"{h['doc_key']}, expected "
                            f"{coll.keys[int(h['doc_id'])]}")
            else:
                pairs = got
            err = check_topk(pairs, ranked, K)
            if err:
                raise CheckFailed(f"{kind} {q.text!r} ({upto} docs): {err}")

    @staticmethod
    def verify_stats(coll: Collection, snap: tuple, what: str) -> None:
        """Live doc count and term_statistics against the raw text; an
        absent term must be absent."""
        live, terms, stats = snap
        if live != coll.n_docs:
            raise CheckFailed(f"{what}: {live} live docs, expected "
                              f"{coll.n_docs}")
        for t in terms:
            got, want = tuple(stats.get(t, (0, 0))), coll.stats(t)
            if got != want:
                raise CheckFailed(f"{what}: term_statistics({t}) = {got}, "
                                  f"expected {want}")


def op_groups(rec: Recorder, workload: str) -> dict[str, list]:
    """The operations each metric is taken over.  On ``search`` the
    build is the set-up one and the singles are the timed searches; on
    ``index`` the singles are the fresh and held searches."""
    ops = [o for o in rec.ops if o.phase in ("timed", "probe") and o.ok]

    def of(*kinds):
        return [o for o in ops if o.kind in kinds]

    on_search = workload == "search"
    return {
        "singles": of("search") if on_search
        else of("fresh_search", "held_search"),
        "fresh": of("fresh_search"),
        "batches": of("batch", "fresh_batch"),
        "builds": [o for o in rec.ops if o.kind == "build"
                   and o.phase == ("setup" if on_search else "timed")],
        "appends": of("append"),
        "merges": of("merge"),
    }


# ---------------------------------------------------------------------------
def run_search(run: Run) -> None:
    from lucene_1_spark.streaming.incremental import IncrementalIndexWriter

    path = os.path.join(run.work, "search-idx")
    docs, *probe_docs = run.deal([I.SEARCH_DOCS]
                                 + [I.PROBE_APPEND_DOCS] * I.PROBE_COMMITS)
    maker = I.QueryMaker(run.rng, docs)
    warm_maker = I.QueryMaker(run.warm_rng, docs)
    run.build(path, docs, phase="setup")
    run.last_index, run.texts = path, [d.content for d in docs]
    n0 = len(docs)

    # the fixed list: round r runs one single search per kind, the band
    # rotating with r, then one batch of every (kind, band) pair
    n_rounds = I.rounds_for(run.seconds, I.SEARCH_ROUND_S)
    plan = []
    for r in range(n_rounds):
        if r >= len(I.BANDS):       # later rounds repeat earlier queries
            plan.append(plan[r - len(I.BANDS)])
            continue
        singles = [maker.make(kind, I.BANDS[(j + r) % len(I.BANDS)])
                   for j, kind in enumerate(I.KINDS)]
        plan.append((singles, maker.batch()))

    # untimed warm-up: one round of the mix on a throwaway searcher
    warm = run.searcher(path)
    for kind in I.KINDS:
        warm.search(warm_maker.make(kind, "mid").text, k=K)
    warm.search_many({f"w{i}": q.text for i, q in
                      enumerate(warm_maker.batch())}, k=K).collect()
    del warm

    s = run.searcher(path)
    for singles, batch in plan:
        for q in singles:
            run.single(s, q, "search", "timed", n0)
        run.batch(s, batch, "batch", "timed", n0)

    # ingest probe: two commits on the searched index (the second one
    # merges), each followed by fresh reads
    terms = [t for singles, b in plan for q in singles + b for t in q.terms]
    run.snaps.append((n0, "after the timed phase",
                      run.stats_snapshot(path, terms)))
    writer = IncrementalIndexWriter(run.spark, path, run.cfg)
    groups, n = [docs], n0
    for c, extra in enumerate(probe_docs):
        probe_qs = [maker.make(I.KINDS[(c + j) % len(I.KINDS)], "mid")
                    for j in range(I.PROBE_QUERIES)]
        ingest(run, path, writer, extra, probe_qs, [], n, phase="probe")
        groups.append(extra)
        n += len(extra)

    coll = Collection()
    for group in groups:
        coll.add([(d.doc_key, d.content) for d in I.in_doc_order(group)])
        run.verify(coll, coll.n_docs)


def ingest(run: Run, path: str, writer, batch_docs: list[I.Doc],
           fresh_qs: list[I.Query], fresh_batch: list[I.Query],
           n_before: int, phase: str, held=None) -> tuple:
    """One commit: append, ``maybe_merge``, fresh-searcher queries and
    the held searcher's repeat.  Returns the fresh searcher and its
    answer to the first fresh query."""
    n_after = n_before + len(batch_docs)
    terms = [t for q in fresh_qs + fresh_batch for t in q.terms]
    before = _files(path)
    src = run.frame(batch_docs)
    with run.op("append", phase, n=len(batch_docs)):
        writer.append(src)
    mid = _files(path)
    pre = run.stats_snapshot(path, terms)
    with run.op("merge", phase) as o:
        o.rows = int(writer.maybe_merge(segs_per_tier=I.SEGS_PER_TIER)
                     is not None)
    post = run.stats_snapshot(path, terms)
    run.snaps += [(n_after, "before merge", pre),
                  (n_after, "after merge", post)]
    after = _files(path)
    run.facts.setdefault("merge_bytes", []).append(_bytes_written(mid, after))
    run.facts.setdefault("ingest_bytes", []).append(
        (_bytes_written(before, after), _content_bytes(batch_docs)))

    fresh, first = None, None
    for q in fresh_qs:
        fresh, hits = run.single(fresh, q, "fresh_search", phase, n_after,
                                 path=path if fresh is None else None)
        first = hits if first is None else first
    if fresh_batch:
        run.batch(fresh, fresh_batch, "fresh_batch", phase, n_after)
    if held is not None:
        searcher, q, answer = held
        try:
            with run.op("held_search", phase):
                again = searcher.search(q.text, k=K)
        except Exception as exc:
            if not _is_missing_file(exc):
                raise
        else:
            if again != answer:
                raise CheckFailed(f"held searcher changed its answer to "
                                  f"{q.text!r} across a commit")
    return fresh, first


def run_index(run: Run) -> None:
    from lucene_1_spark.streaming.incremental import IncrementalIndexWriter

    held_q = I.Query("or", "fixed", (), tuple(I.HELD_QUERY.split()))

    # untimed warm-up: the whole mix on a small throwaway index, with a
    # forced merge
    n_cycles = I.rounds_for(run.seconds, I.INDEX_CYCLE_S)
    per_cycle = [I.BUILD_DOCS] + [I.BATCH_DOCS] * I.APPENDS_PER_CYCLE
    wdocs, wbatch, *cycle_docs = run.deal(
        [I.WARM_BUILD_DOCS, I.WARM_BATCH_DOCS] + per_cycle * n_cycles)
    wpath = os.path.join(run.work, "warm-idx")
    wm = I.QueryMaker(run.warm_rng, wdocs)
    run.build(wpath, wdocs, phase="warmup")
    w = IncrementalIndexWriter(run.spark, wpath, run.cfg)
    w.append(run.frame(wbatch))
    w.maybe_merge(segs_per_tier=1)
    ws = run.searcher(wpath)
    ws.search(held_q.text, k=K)
    ws.search(wm.make("must_should", "mid").text, k=K)
    ws.search_many({f"w{i}": wm.make(k, "mid").text
                    for i, k in enumerate(I.KINDS)}, k=K).collect()
    del ws, w
    run.facts.clear()

    for c in range(n_cycles):
        path = os.path.join(run.work, f"idx-{c}")
        docs, *batches = cycle_docs[c * len(per_cycle):
                                    (c + 1) * len(per_cycle)]
        maker = I.QueryMaker(run.rng, docs)
        # per commit: the held query and one single search on a fresh
        # searcher, then a small batch; kinds and bands rotate
        plans = [([held_q, maker.make(I.KINDS[(a + 1) % len(I.KINDS)],
                                      I.BANDS[a % 3])],
                  [maker.make(kind, I.BANDS[(j + a) % 3])
                   for j, kind in enumerate(I.KINDS)][:I.FRESH_BATCH_QUERIES])
                 for a in range(I.APPENDS_PER_CYCLE)]

        run.build(path, docs, phase="timed")
        run.last_index, run.texts = path, [d.content for d in docs]
        fresh, answer = run.single(None, held_q, "fresh_search", "timed",
                                   len(docs), path=path)
        writer = IncrementalIndexWriter(run.spark, path, run.cfg)
        n = len(docs)
        for batch_docs, (fresh_qs, fresh_batch) in zip(batches, plans):
            fresh, answer = ingest(run, path, writer, batch_docs, fresh_qs,
                                   fresh_batch, n, "timed",
                                   held=(fresh, held_q, answer))
            n += len(batch_docs)

        coll = Collection()
        for group in [docs] + batches:
            coll.add([(d.doc_key, d.content) for d in I.in_doc_order(group)])
            run.verify(coll, coll.n_docs)
        run.checks.clear()
        run.snaps.clear()
