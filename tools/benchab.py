#!/usr/bin/env python3
"""Alternating parent/change A/B of the graft benchmark.

    python3 tools/benchab.py run --parent DIR --change DIR --workload W \\
        --seeds 2001-2010 --name NAME [--trace 0]
    python3 tools/benchab.py summary bench_artifacts/NAME.jsonl

`run` takes two extracted source trees (the parent commit and the change,
e.g. `git archive <parent> | tar -x -C DIR`), and for each seed runs
`python3 graftbench/run.py` once in each tree for BENCHMARK.json's
`run_seconds`, one seed per pair, alternating which side goes first. Every run appends one record
{"workload", "side", "seed", "loadavg", "r"} to bench_artifacts/NAME.jsonl,
where "r" is the run's result line. Do one throwaway run per tree first
(build and data generation) and run nothing else meanwhile.

`summary` prints, per workload and end-to-end metric of BENCHMARK.json,
each side's median and quartiles, and how many pairs the change won.
A gain is claimed only over at least ten pairs, when the change wins at
least nine tenths of them (ties count for neither) and the medians differ
by more than the parent's interquartile range; a change median worse than the parent's by
more than the metric's bound is reported as a regression, and any other
difference as unresolved when the spread exceeds the bound. Runs that are
not correct or report failures are left out of the pairs; when the change
has more of them than the parent, every verdict of that workload is
"failed runs", never a gain.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900
MIN_PAIRS = 10  # fewer pairs never support a gain claim


def benchmark(path=os.path.join(ROOT, "BENCHMARK.json")):
    with open(path) as f:
        return json.load(f)


def end_to_end_metrics():
    return benchmark()["end_to_end"]


def bench_runner(tree, workload, seed, trace):
    """Runs one benchmark in `tree` for the benchmark's own run length;
    returns its result line as a dict."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(benchmark()["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    for line in reversed(p.stdout.strip().splitlines()):
        try:
            r = json.loads(line)
        except ValueError:
            continue
        if isinstance(r, dict) and "metrics" in r:
            return r
    return {"correct": False, "error": f"exit {p.returncode}, no result line",
            "stderr_tail": p.stderr[-500:]}


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_pairs(trees, workload, seeds, out, trace=0, runner=bench_runner,
              loadavg=lambda: os.getloadavg()[0]):
    """One pair per seed; even pairs run the parent first, odd ones the change."""
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            load = round(loadavg(), 2)
            r = runner(trees[side], workload, seed, trace)
            rec = {"workload": workload, "side": side, "seed": seed, "loadavg": load, "r": r}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{workload} seed {seed} {side}: {json.dumps(r)}", flush=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(records, metrics):
    """Returns one row per (workload, metric) with both sides' quartiles,
    the change's pair wins and the verdict."""
    rows = []
    for wl in sorted({r["workload"] for r in records}):
        runs = {}
        bad = []
        for r in records:
            if r["workload"] != wl:
                continue
            ok = r["r"].get("correct") is True and r["r"].get("failed", 1) == 0
            if not ok:
                bad.append((r["side"], r["seed"]))
            runs[(r["side"], r["seed"])] = r["r"] if ok else None
        seeds = sorted({s for (_, s) in runs if runs.get(("parent", s)) and runs.get(("change", s))})
        more_failures = (sum(1 for side, _ in bad if side == "change")
                         > sum(1 for side, _ in bad if side == "parent"))
        if not seeds:
            rows.append({"workload": wl, "metric": None, "pairs": 0, "bad_runs": bad,
                         "verdict": "failed runs" if more_failures else "no clean pairs"})
            continue
        for m in metrics:
            name, lower = m["name"], m.get("better", "lower") == "lower"
            if any(name not in runs[(side, s)]["metrics"]
                                for s in seeds for side in ("parent", "change")):
                continue  # traced runs report per-layer metrics only
            val = {side: [runs[(side, s)]["metrics"][name]["value"] for s in seeds]
                   for side in ("parent", "change")}
            wins = sum(1 for p, c in zip(val["parent"], val["change"]) if (c < p if lower else c > p))
            losses = sum(1 for p, c in zip(val["parent"], val["change"]) if (c > p if lower else c < p))
            pq, cq = quartiles(val["parent"]), quartiles(val["change"])
            gap = cq[1] - pq[1]
            iqr = pq[2] - pq[0]
            better = gap < 0 if lower else gap > 0
            rel = gap / pq[1] if pq[1] else 0.0
            worse_rel = rel if lower else -rel
            if more_failures:
                verdict = "failed runs"
            elif better and len(seeds) >= MIN_PAIRS and wins * 10 >= 9 * len(seeds) and abs(gap) > iqr:
                verdict = "gain"
            elif worse_rel > m.get("bound", float("inf")):
                verdict = "regression"
            elif max(iqr, cq[2] - cq[0]) > m.get("bound", float("inf")) * pq[1]:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            rows.append({"workload": wl, "metric": name, "pairs": len(seeds), "wins": wins,
                         "losses": losses, "parent": pq, "change": cq, "gap": gap,
                         "rel": rel, "parent_iqr": iqr, "verdict": verdict, "bad_runs": bad})
    return rows


def load_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def print_summary(rows):
    for r in rows:
        if not r["pairs"]:
            print(f"{r['workload']:<14} no pair with both runs clean  -> {r['verdict']}")
            print(f"  runs not correct or with failures: {r['bad_runs']}")
            continue
        (p1, pm, p3), (c1, cm, c3) = r["parent"], r["change"]
        print(f"{r['workload']:<14} {r['metric']:<10} pairs {r['pairs']:>2}  "
              f"parent {pm:.3f} [{p1:.3f}, {p3:.3f}]  change {cm:.3f} [{c1:.3f}, {c3:.3f}]  "
              f"median gap {r['gap']:+.3f} ({r['rel']:+.1%}) vs parent IQR {r['parent_iqr']:.3f}  "
              f"change wins {r['wins']}/{r['pairs']} (losses {r['losses']})  -> {r['verdict']}")
        if r["bad_runs"]:
            print(f"  runs not correct or with failures (excluded): {r['bad_runs']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 2001-2010 or 5,7,9")
    r.add_argument("--name", required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("summary")
    s.add_argument("jsonl")
    a = ap.parse_args(argv)
    if a.cmd == "run":
        out = os.path.join(ROOT, "bench_artifacts", a.name + ".jsonl")
        run_pairs({"parent": a.parent, "change": a.change}, a.workload, parse_seeds(a.seeds),
                  out, a.trace)
        print_summary(summarize(load_records(out), end_to_end_metrics()))
    else:
        print_summary(summarize(load_records(a.jsonl), end_to_end_metrics()))


if __name__ == "__main__":
    main()
