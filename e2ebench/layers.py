"""Per-layer metrics of a traced run.

Spans come from wrappers around the package's public functions (see
``spans.Recorder.install``), Spark figures from each op's job group,
and kernel throughputs from calling the codec, BM25 and analysis
functions on the driver, on the run's own index, after the timed phase.
"""

from __future__ import annotations

import time

import numpy as np

from spans import median

KERNEL_BLOCKS = 1500
KERNEL_DOCS = 1500
KERNEL_PASSES = 5


def _best_rate(work, count: int) -> float:
    """Items per second of the fastest of a few passes over ``work``."""
    best = float("inf")
    for _ in range(KERNEL_PASSES):
        t = time.perf_counter()
        work()
        best = min(best, time.perf_counter() - t)
    return count / best


def kernels(spark, path: str, texts: list[str]) -> dict:
    import pyarrow.dataset as ds

    from lucene_1_spark.analysis.standard import get_analyzer
    from lucene_1_spark.functions import bm25, codecs
    from lucene_1_spark.index import IndexReader

    reader = IndexReader(spark, path)
    tbl = (ds.dataset(reader.table_path("postings"), format="parquet",
                      partitioning="hive")
           .to_table(columns=["first_doc", "num_docs", "doc_gaps", "freqs",
                              "norms"])
           .slice(0, KERNEL_BLOCKS).to_pylist())
    n_post = sum(r["num_docs"] for r in tbl)
    decoded = [(codecs.decode_doc_ids(r["doc_gaps"], r["first_doc"],
                                      r["num_docs"]),
                codecs.decode_freqs(r["freqs"], r["num_docs"]),
                np.frombuffer(r["norms"], dtype=np.uint8)) for r in tbl]
    st = reader.stats
    cache = bm25.norm_inverse_cache(bm25.avg_field_length(
        st["sum_total_term_freq"], st["doc_count"]))
    weight = bm25.term_weight(100, st["doc_count"])
    analyzer = get_analyzer("standard")
    docs = texts[:KERNEL_DOCS]
    n_tok = sum(len(analyzer.tokens(t)) for t in docs)

    def decode():
        for r in tbl:
            codecs.decode_doc_ids(r["doc_gaps"], r["first_doc"], r["num_docs"])
            codecs.decode_freqs(r["freqs"], r["num_docs"])

    def score():
        for _d, f, nb in decoded:
            bm25.score_term(f, nb, weight, cache)

    def encode():
        for d, f, _nb in decoded:
            codecs.encode_doc_gaps(d)
            codecs.encode_freqs(f)

    def analyze():
        for t in docs:
            analyzer.tokens(t)

    return {
        "functions.codecs.decode_postings_per_s": _best_rate(decode, n_post),
        "functions.bm25.scores_per_s": _best_rate(score, n_post),
        "functions.codecs.encode_postings_per_s": _best_rate(encode, n_post),
        "analysis.tokens_per_s": _best_rate(analyze, n_tok),
    }


UNITS = {
    "session.get_spark_s": "s",
    "search.query.parse_ms": "ms",
    "search.executor.plan_ms": "ms",
    "search.executor.topk_ms": "ms",
    "search.executor.search_ms": "ms",
    "search.executor.batch_ms_per_query": "ms",
    "index.reader.open_ms": "ms",
    "index.reader.term_statistics_ms": "ms",
    "index.reader.term_statistics_calls": "count",
    "index.reader.block_meta_ms": "ms",
    "index.reader.block_meta_rows": "count",
    "spark.jobs_per_search": "count",
    "spark.stages_per_search": "count",
    "spark.tasks_per_search": "count",
    "spark.task_ms_per_search": "ms",
    "spark.task_jvm_cpu_ms_per_search": "ms",
    "spark.sched_gap_ms_per_search": "ms",
    "spark.records_read_per_hit": "count",
    "spark.jobs_per_batch": "count",
    "spark.task_ms_per_batch_query": "ms",
    "spark.shuffle_bytes_per_batch": "B",
    "functions.codecs.decode_postings_per_s": "1/s",
    "functions.bm25.scores_per_s": "1/s",
    "analysis.tokens_per_s": "1/s",
    "functions.codecs.encode_postings_per_s": "1/s",
    "spark.jobs_per_build": "count",
    "spark.task_ms_per_build": "ms",
    "spark.shuffle_write_bytes_per_build": "B",
    "spark.gc_ms_per_build": "ms",
    "index.builder.files_written": "count",
    "streaming.incremental.append_ms": "ms",
    "spark.jobs_per_append": "count",
    "index.maintenance.merge_ms": "ms",
    "index.maintenance.merges": "count",
    "index.maintenance.merge_bytes_rewritten": "B",
    "index.maintenance.segments": "count",
    "spark.shuffle_bytes_per_merge": "B",
    "host.calib_ms": "ms",
    "phase.search_share": "share",
    "phase.batch_share": "share",
    "phase.build_share": "share",
    "phase.ingest_share": "share",
}


def _per(ops, key) -> float:
    """Mean of a Spark figure over ops (0 when there are none)."""
    return sum(o.spark.get(key, 0) for o in ops) / len(ops) if ops else 0.0


def _span_ms(rec, name, ops) -> float:
    return sum(s.ms for s in rec.child_spans(name, ops)) / len(ops) \
        if ops else 0.0


def per_layer(run, rec, groups: dict, get_spark_s: float) -> dict:
    from lucene_1_spark.index.maintenance import segment_sizes

    rec.collect_spark()
    singles, batches = groups["singles"], groups["batches"]
    builds, appends = groups["builds"], groups["appends"]
    merged = [o for o in groups["merges"] if o.rows]
    timed = [o for o in rec.ops if o.phase == "timed"]
    wall = sum(o.ms for o in timed)

    def share(*kinds):
        return sum(o.ms for o in timed if o.kind in kinds) / wall

    # per-search means, so that plan + topk = search
    search_ms = sum(o.ms for o in singles) / len(singles) if singles else 0.0
    plan_ms = _span_ms(rec, "search.executor.plan", singles)
    ts = rec.child_spans("index.reader.term_statistics", singles)
    bm = rec.child_spans("index.reader.block_meta", singles)
    n = max(len(singles), 1)
    opens = [s.ms for s in rec.spans if s.name == "index.reader.open"
             and s.parent is not None]
    hits = sum(o.rows for o in singles)
    n_batch_q = sum(o.n for o in batches)
    m = {
        "session.get_spark_s": get_spark_s,
        "search.query.parse_ms": _span_ms(rec, "search.query.parse", singles),
        "search.executor.plan_ms": plan_ms,
        "search.executor.topk_ms": search_ms - plan_ms,
        "search.executor.search_ms": search_ms,
        "search.executor.batch_ms_per_query":
            sum(o.ms for o in batches) / n_batch_q if n_batch_q else 0.0,
        "index.reader.open_ms": median(opens),
        "index.reader.term_statistics_ms": sum(s.ms for s in ts) / n,
        "index.reader.term_statistics_calls": len(ts) / n,
        "index.reader.block_meta_ms": sum(s.ms for s in bm) / n,
        "index.reader.block_meta_rows": sum(s.rows for s in bm) / n,
        "spark.jobs_per_search": _per(singles, "jobs"),
        "spark.stages_per_search": _per(singles, "stages"),
        "spark.tasks_per_search": _per(singles, "tasks"),
        "spark.task_ms_per_search": _per(singles, "task_ms"),
        "spark.task_jvm_cpu_ms_per_search": _per(singles, "cpu_ms"),
        "spark.sched_gap_ms_per_search": sum(
            max(0.0, o.ms - o.spark.get("stage_busy_ms", 0.0))
            for o in singles) / n,
        "spark.records_read_per_hit":
            sum(o.spark.get("input_records", 0) for o in singles)
            / max(hits, 1),
        "spark.jobs_per_batch": _per(batches, "jobs"),
        "spark.task_ms_per_batch_query":
            sum(o.spark.get("task_ms", 0) for o in batches) / n_batch_q
            if n_batch_q else 0.0,
        "spark.shuffle_bytes_per_batch": _per(batches, "shuffle_write"),
        "spark.jobs_per_build": _per(builds, "jobs"),
        "spark.task_ms_per_build": _per(builds, "task_ms"),
        "spark.shuffle_write_bytes_per_build": _per(builds, "shuffle_write"),
        "spark.gc_ms_per_build": _per(builds, "gc_ms"),
        "index.builder.files_written": float(median(run.facts["build_files"])),
        "streaming.incremental.append_ms":
            median([o.ms for o in appends]),
        "spark.jobs_per_append": _per(appends, "jobs"),
        "index.maintenance.merge_ms": median([o.ms for o in merged]),
        "index.maintenance.merges": float(len(merged)),
        "index.maintenance.merge_bytes_rewritten":
            float(sum(run.facts.get("merge_bytes", []))),
        "index.maintenance.segments":
            float(len(segment_sizes(run.last_index))),
        "spark.shuffle_bytes_per_merge": _per(merged, "shuffle_write"),
        "host.calib_ms": median(rec.calib),
        "phase.search_share": share("search", "fresh_search", "held_search"),
        "phase.batch_share": share("batch", "fresh_batch"),
        "phase.build_share": share("build"),
        "phase.ingest_share": share("append", "merge"),
    }
    m.update(kernels(run.spark, run.last_index, run.texts))
    return {k: {"value": float(m[k]), "unit": u} for k, u in UNITS.items()}
