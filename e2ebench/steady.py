"""Steadiness check: run every workload in sets of runs on distinct
seeds and report, per end-to-end metric, each set's median, quartiles
and spread ((Q3 - Q1) / median), whether the spread stays within the
metric's bound in ``BENCHMARK.json``, whether the last set's median is
no worse than the first's by more than the bound, and whether the share
of failed operations is the same in every set.  With ``--traced`` it
also runs one seed twice traced and flags count metrics that differ;
``--overhead N`` instead compares N untraced/traced pairs.

    python3 e2ebench/steady.py [--runs 5] [--sets 2] [--traced]
        [--overhead N]

Every workload of ``BENCHMARK.json`` is run; the runs' results are
written to ``e2ebench/out/steady.json``.

Set k uses seeds k*1000+1 .. k*1000+runs; runs alternate between sets
and workloads so that a slow stretch of the host hits every set alike.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "steady.json")


def run_once(cfg: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(cfg["run_seconds"]),
                            "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    out = json.loads(lines[-1])
    m = re.search(r"host calib median ([0-9.]+) ms", p.stderr)
    out["calib_ms"] = float(m.group(1)) if m else None
    out["wall_s"] = time.time() - t
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def report(cfg: dict, workload: str, sets: list[list[dict]]) -> bool:
    ok = True
    print(f"\n== {workload}: {len(sets)} set(s) of {len(sets[0])} runs")
    for m in cfg["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for i, runs in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            meds.append(med)
            held = sp <= bound
            ok &= held
            print(f"  {name:38s} set{i} median {med:12.4f} "
                  f"q1 {q1:12.4f} q3 {q3:12.4f} spread {sp:6.3f} "
                  f"bound {bound:.3f} {'ok' if held else 'OVER'}")
        if len(meds) > 1:
            worse = (meds[-1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            held = worse <= bound
            ok &= held
            print(f"  {name:38s} last set worse by {worse:+.3f} "
                  f"{'ok' if held else 'OVER'}")
    shares = {(r["failed"], r["attempted"]) for runs in sets for r in runs}
    fracs = {f / a for f, a in shares}
    same = len(fracs) == 1
    ok &= same
    print(f"  failed/attempted: {sorted(shares)} "
          f"{'same share in every run' if same else 'DIFFERS'}")
    return ok


def traced_repeat(cfg: dict, workload: str, seed: int) -> bool:
    """Two traced runs of one seed: every per-layer figure of both, with
    the count metrics that do not repeat exactly flagged."""
    a = run_once(cfg, workload, seed, 1)["metrics"]
    b = run_once(cfg, workload, seed, 1)["metrics"]
    moved = [m["name"] for m in cfg["per_layer"] if m["unit"] == "count"
             and a[m["name"]]["value"] != b[m["name"]]["value"]]
    print(f"\n== {workload}: traced twice with seed {seed}")
    for m in cfg["per_layer"]:
        n = m["name"]
        flag = "DIFFERS" if n in moved else ""
        print(f"  {n:45s} {a[n]['value']:14.4f} {b[n]['value']:14.4f} "
              f"{m['unit']:6s} {flag}")
    return not moved


def overhead(cfg: dict, workload: str, pairs: int) -> None:
    """Untraced and traced runs of the same seeds: the traced run's own
    end-to-end figures (kept in its trace file) against the untraced."""
    names = [m["name"] for m in cfg["end_to_end"]]
    plain, traced = {n: [] for n in names}, {n: [] for n in names}
    for i in range(pairs):
        seed = 9000 + i + 1
        a = run_once(cfg, workload, seed, 0)["metrics"]
        run_once(cfg, workload, seed, 1)
        with open(os.path.join(HERE, "out",
                               f"trace-{workload}-{seed}.json")) as fh:
            b = json.load(fh)["end_to_end"]
        for n in names:
            plain[n].append(a[n]["value"])
            traced[n].append(b[n]["value"])
    print(f"\n== {workload}: tracing overhead over {pairs} seed pairs")
    for n in names:
        u, t = statistics.median(plain[n]), statistics.median(traced[n])
        print(f"  {n:38s} untraced {u:12.4f} traced {t:12.4f} "
              f"traced/untraced {t / u:6.3f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--overhead", type=int, default=0, metavar="PAIRS",
                    help="only measure tracing overhead with this many "
                         "untraced/traced pairs per workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    names = [w["name"] for w in cfg["workloads"]]

    if args.overhead:
        for w in names:
            overhead(cfg, w, args.overhead)
        return 0

    results = {w: [[] for _ in range(args.sets)] for w in names}
    for i in range(args.runs):
        for k in range(args.sets):
            for w in names:
                seed = (k + 1) * 1000 + i + 1
                r = run_once(cfg, w, seed, 0)
                results[w][k].append(r)
                print(f"{w} seed {seed}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} "
                      f"host calib {r['calib_ms']} ms "
                      f"wall {r['wall_s']:.1f} s",
                      flush=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(results, fh, indent=1)
    ok = all([report(cfg, w, results[w]) for w in names]) if args.runs \
        else True
    if args.traced:
        ok = all([traced_repeat(cfg, w, 1) for w in names]) and ok
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
