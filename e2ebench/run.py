"""Run one benchmark workload and print one JSON result line.

    python3 e2ebench/run.py --workload search|index --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout: the engine is imported from
``lucene_1_spark`` beside this directory.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (and the spans go to ``e2ebench/out/``).  A failed output check
prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4            # local[k], capped by the CPUs this process may use
DRIVER_MEM = "2g"
# the end-to-end metrics that hold their bounds; the wall-clock figures
# track the host's speed too closely for a bound and are reported with
# the per-layer metrics of a traced run (see README.md)
END_TO_END = ("setup_s", "index_bytes_per_input_byte",
              "ingest_bytes_written_per_input_byte", "peak_rss_mb")


def _env(work: str, cores: int) -> None:
    """Pin the session's shape and keep all scratch under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_GRAFT_NO_WARMUP", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join(
            ["--conf", f"spark.local.dir={local}", "pyspark-shell"]),
    })


def _figures(run, groups: dict, setup_s: float, rss: float) -> dict:
    """Every figure a user of the engine sees, end to end."""
    from spans import median

    def rate(ops):
        return sum(o.n for o in ops) / sum(o.ms / 1e3 for o in ops)

    idx_b, in_b = map(sum, zip(*run.facts["build_bytes"]))
    wr_b, app_b = map(sum, zip(*run.facts["ingest_bytes"]))
    ingest_s = sum(o.ms / 1e3 for o in groups["appends"] + groups["merges"])
    vals = {
        "setup_s": (setup_s, "s"),
        "search_p50_ms": (median([o.ms for o in groups["singles"]]), "ms"),
        "batch_queries_per_s": (rate(groups["batches"]), "queries/s"),
        "build_docs_per_s": (rate(groups["builds"]), "docs/s"),
        "index_bytes_per_input_byte": (idx_b / in_b, "B/B"),
        "ingest_docs_per_s": (
            sum(o.n for o in groups["appends"]) / ingest_s, "docs/s"),
        "ingest_search_p50_ms": (
            median([o.ms for o in groups["fresh"]]), "ms"),
        "ingest_bytes_written_per_input_byte": (wr_b / app_b, "B/B"),
        "peak_rss_mb": (rss, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "index"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lucene_1_spark", "__init__.py")):
        print(f"e2ebench: no lucene_1_spark package in {ROOT}; run from the "
              f"root of a source checkout", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        # fix string hashing for this process and every Python worker
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)

    import procs
    t_start = procs.process_start_time()
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.append(ROOT)
    cores = max(1, min(CORES, len(os.sched_getaffinity(0))))
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, cores)

    from spans import Recorder, median
    import workloads as W

    spark = None
    try:
        from lucene_1_spark import get_spark
        t = time.perf_counter()
        spark = get_spark("e2ebench", cores=cores, shuffle_partitions=cores)
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        rec = Recorder(spark, trace=bool(args.trace))
        if args.trace:
            rec.install()
        run = W.Run(spark, rec, work, args.seed, args.seconds, cores)
        correct, error = True, None
        try:
            (W.run_search if args.workload == "search" else W.run_index)(run)
        except W.CheckFailed as exc:
            correct, error = False, str(exc)
        setup_s = (run.first_timed or time.time()) - t_start
        rss = procs.peak_rss_mb([os.getpid()] + procs.descendants(os.getpid()))
        metrics = {}
        if correct:
            groups = W.op_groups(rec, args.workload)
            figures = _figures(run, groups, setup_s, rss)
            metrics = {k: figures[k] for k in END_TO_END}
        if args.trace and correct:
            import layers
            metrics = layers.per_layer(run, rec, groups, get_spark_s)
            metrics.update({k: v for k, v in figures.items()
                            if k not in END_TO_END})
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            # the traced run's own end-to-end figures give the overhead
            rec.dump(os.path.join(
                HERE, "out", f"trace-{args.workload}-{args.seed}.json"),
                end_to_end=figures)
        rec.unwrap()
        attempted = sum(o.phase in ("timed", "probe") for o in rec.ops)
        failed = sum(o.phase in ("timed", "probe") and not o.ok
                     for o in rec.ops)
    finally:
        try:
            if spark is not None:
                procs.stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.join(HERE, ".work"))
            except OSError:
                pass
    if error:
        print(f"e2ebench: check failed: {error}", file=sys.stderr)
    # host speed at the time of the run, for reading spreads (not a metric)
    print(f"e2ebench: host calib median {median(rec.calib):.3f} ms",
          file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
