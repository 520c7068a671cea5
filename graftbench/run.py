#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the repository root.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark JVM code from source (sbt, offline,
cached by source hash), generates the workload's inputs from the seed,
runs one JVM (see graftbench.Main), checks every result against the DuckDB
oracle with tools/check.py --exact, and prints every metric by name with
its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. All state lives under
.graftbench/ in the working directory.

Workloads (why each exists is in BENCHMARK.json and graftbench/NOTES.md):
  mr_corpus     seeded Zipf corpus; MapReduce facade calls + mr_wordcount
  engine_sf001  st_sessionize_stream + two AllPairs joins on sf0.01 tables,
                expression ladder in traced runs
The sf0.01 tables are generated with one fixed seed; for engine_sf001 the
--seed sets the warm passes' query order and the expression-ladder rows.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

# generator settings per workload; a None seed means the run's --seed
DATA = {
    "mr_corpus": {"sf": 0.01, "seed": None, "corpus_tokens": 400_000},
    "engine_sf001": {"sf": 0.01, "seed": 42, "corpus_tokens": 0},
}
WORKLOADS = list(DATA)
WORK = ".graftbench"
RUN_BUDGET_S = 170  # a run must end within 180 s once built

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole
    group and waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_key(root):
    h = hashlib.sha256()
    for base in ("src/main", "graftbench/src/main", "graftbench/build.sbt",
                 "graftbench/project/build.properties"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles engine + benchmark once per source state; returns the classpath."""
    stamp = os.path.join(WORK, "build.json")
    key = source_key(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["key"] == key and os.path.isdir(b["classpath"].split(":")[0]):
            return b["classpath"]
    log("building engine and benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    out_path = os.path.join(WORK, "build.log")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       timeout=840, cwd=os.path.join(root, "graftbench"), env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if "/classes:" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.exit(f"graftbench: build failed (exit {rc}), see {out_path}")
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": cps[-1].strip()}, f)
    return cps[-1].strip()


def inputs(workload, seed):
    """Generates (or reuses) the workload's input directory."""
    cfg = dict(DATA[workload])
    if cfg["seed"] is None:
        cfg["seed"] = seed
    name = f"sf{cfg['sf']}-seed{cfg['seed']}-corpus{cfg['corpus_tokens']}"
    base = os.path.join(WORK, "data")
    d = os.path.join(base, name)
    if os.path.exists(os.path.join(d, "meta.json")):
        return d, cfg
    if DATA[workload]["seed"] is None and os.path.isdir(base):  # keep one seeded input
        for old in os.listdir(base):
            if old.endswith(f"-corpus{cfg['corpus_tokens']}"):
                shutil.rmtree(os.path.join(base, old))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    texts = gen.generate(tmp, cfg["sf"], cfg["seed"], cfg["corpus_tokens"])
    corpus_bytes = sum(len(t.encode()) for t in texts) if texts else 0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(dict(cfg, corpus_bytes=corpus_bytes), f)
    os.rename(tmp, d)
    return d, cfg


def heap():
    """Heap of the repository's test environment: half of RAM,
    clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def check_oracle(results, data, timeout):
    """tools/check.py --exact over the check pass's results; returns
    ({query: reason} failures, ok) where ok is False if the check itself
    could not run."""
    p = subprocess.run([sys.executable, "tools/check.py", results, data, "--exact"],
                       capture_output=True, text=True, timeout=timeout,
                       stdin=subprocess.DEVNULL)
    failed = {}
    for ln in p.stdout.splitlines():
        if ln.startswith("[FAIL] "):
            name, _, why = ln[len("[FAIL] "):].partition(":")
            failed[name] = why.strip()
        elif ln.startswith("[rows-only] ") and ln.endswith("EMPTY!"):
            failed[ln[len("[rows-only] "):].partition(":")[0]] = "empty result"
    summary = [ln for ln in p.stdout.splitlines() if ln.endswith(" fail")]
    if not summary:
        log(f"check.py did not finish: {p.stderr[-2000:]}")
    return failed, bool(summary)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("graftbench: run from the repository root (engine sources not found)")
    load1 = loadavg1()  # before this run adds its own load
    os.makedirs(WORK, exist_ok=True)
    classpath = build(root)
    data, cfg = inputs(a.workload, a.seed)
    with open(os.path.join(data, "meta.json")) as f:
        corpus_bytes = json.load(f)["corpus_bytes"]

    start = time.time()
    out = os.path.abspath(os.path.join(WORK, "runs", f"{a.workload}-trace{a.trace}"))
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    jvm = (["java", "-cp", classpath]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={tmp}", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", os.path.abspath(data), "--out", out,
              "--warehouse", os.path.abspath(os.path.join(WORK, "warehouse")),
              "--loadavg1", str(load1), "--fork-us", str(time.time_ns() // 1000)])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        try:
            rc = run_group(jvm, timeout=RUN_BUDGET_S - 25, stdout=logf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            sys.exit(f"graftbench: {a.workload} seed {a.seed}: JVM exceeded its time budget")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        sys.exit(f"graftbench: {a.workload} seed {a.seed}: JVM exited {rc}, "
                 f"see {out}/jvm.log")

    run = metrics.Run(metrics.load(os.path.join(out, "trace.jsonl")))
    oracle_failed, oracle_ran = check_oracle(
        os.path.join(out, "results"), data, max(5, RUN_BUDGET_S - (time.time() - start)))
    # the facade word counts must also equal their declarative twin's result
    twin = run.checked.get("mr_wordcount", {}).get("digest")
    for op in ("facade_run_wordcount", "facade_run_combined_wordcount"):
        if op in run.checked and run.checked[op].get("digest") != twin:
            oracle_failed[op] = "result differs from mr_wordcount"
    failures = run.failures(oracle_failed)
    attempted = len(run.queries)

    h = run.host
    print(f"host: nproc={h['nproc']} heap_max_mb={h['heap_max_mb']} gc={h['gc']} "
          f"loadavg1_before={h['loadavg1']} workload={a.workload} seed={a.seed} "
          f"trace={a.trace} counted_warm_passes={len(run.warm(False)) + len(run.warm(True))} "
          f"ops_per_pass={len(run.queries_in(run.passes[0]))} data={cfg}")
    for f in failures:
        print(f"FAILED: {f}")
    if not oracle_ran:
        print("FAILED: the DuckDB oracle check did not complete")
    ms = metrics.per_layer(run, corpus_bytes) if a.trace else metrics.end_to_end(run)
    for k, (v, unit) in ms.items():
        print(f"{k} = {v} {unit}")
    print(json.dumps({
        "correct": not failures and oracle_ran,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()},
    }))


if __name__ == "__main__":
    main()
