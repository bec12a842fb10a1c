#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command builds the library and the
harness from source (cached in the work directory by a hash of the
sources), generates the workload's inputs from the seed (`gen.py`), runs
the workload in one JVM on `local[<cores>]` (`perfbench.Main`), checks
every query's output against its `SparkEntry.oracleSql` in DuckDB, writes
the full artifact to `<work>/artifacts/`, and prints every metric by name
with its unit. The last line of standard output is one JSON object.

`--trace 0` reports the end-to-end metrics; `--trace 1` alternates
untraced and traced passes and reports the per-layer metrics. The exit
code is 0 only when every output matched its oracle and no execution threw.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# Two workloads (`BENCHMARK.json` says why each was chosen): plan-built
# queries that end in one sink action, and eager operators whose loop rounds
# and micro-batches run while the plan is built. Both run on the sf0.001
# fixture itself, where a pass takes 3 to 5 s on 4 cores, so that a run (JVM
# start, warm-up, timed passes, output check) takes about a minute. `exact`
# names the counts that repeat exactly from pass to pass and between traced
# runs of one seed. jobs, stages and tasks are not exact on lara-dedup-store:
# adaptive execution submits the stages of its joins as concurrent jobs, and
# now and then a pass runs one more single-task job (39 or 40 jobs).
WORKLOADS = {
    "lara-dedup-store": {
        "queries": ["lara_covariance", "dedup_simhash", "lara_store_layout"],
        "exact": ["loop.rounds", "build.jobs", "scan_rows", "write_rows",
                  "shuffle_write_records"],
    },
    "fixpoint-stream": {
        "queries": ["kcore", "streaming_counts_replay"],
        "exact": ["jobs", "stages", "tasks", "loop.rounds", "build.jobs", "scan_rows",
                  "stream.batches", "stream.state_rows"],
    },
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# replicas of the fixture `gen.generate` makes (1: the fixture itself)
SCALE = 1
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_killable(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the whole group and waits
    for it when `timeout` passes or this process is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()

    def on_term(*_):
        stop()
        raise SystemExit("perfbench: terminated")

    previous = signal.signal(signal.SIGTERM, on_term)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        raise SystemExit(f"perfbench: {cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        signal.signal(signal.SIGTERM, previous)
    return p.returncode, out, err


def source_hash():
    h = hashlib.sha256()
    patterns = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/**/*"]
    files = sorted({f for p in patterns for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(work):
    """Compiles the library and the harness; returns the runtime classpath."""
    cache = os.path.join(work, f"classpath-{source_hash()}.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, 0.0
    log("building library and harness with sbt")
    t0 = time.time()
    code, out, err = run_killable(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        fh.write(cp)
    return cp, time.time() - t0


def tail_percentile(xs):
    """The highest of a few percentiles with at least ten samples beyond it,
    as (percentile, value), or None when the sample is too small."""
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100)[p - 1]
    return None


def pass_stats(walls):
    q1, _, q3 = statistics.quantiles(walls, n=4)
    return {"median": statistics.median(walls), "q1": q1, "q3": q3, "n": len(walls),
            "tail": tail_percentile(walls), "values": walls}


def end_to_end(res):
    u = res["untraced"]
    medians = {q: statistics.median(v) for q, v in u["per_query_s"].items()}
    return {
        "pass_s": statistics.median(u["wall_s"]),
        "query_s.geomean": math.exp(sum(math.log(m) for m in medians.values()) / len(medians)),
        "setup_s": res["setup_s"],
        "peak_heap_mb": res["peak_heap_mb"],
    }, medians


def per_layer(res, out_rows, failed_frac):
    counters = res["traced_counters"]
    m = {k: statistics.median(c[k] for c in counters) for k in counters[0]}
    m["cache_mb"] = statistics.median(res["traced"]["cache_mb"])
    m["out_rows"] = out_rows
    m["pair_yield"] = out_rows / m["shuffle_write_records"] if m["shuffle_write_records"] else 0.0
    m.update(res["kernels"])
    m["failed_frac"] = failed_frac
    m["trace_overhead"] = (statistics.median(res["traced"]["wall_s"])
                           / statistics.median(res["untraced"]["wall_s"]))
    repeat = sorted(k for k in counters[0] if len({c[k] for c in counters}) == 1)
    return m, repeat


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    wl = WORKLOADS[a.workload]

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        raise SystemExit("perfbench: run from a graft checkout (build.sbt and src/ not found)")
    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(work, exist_ok=True)
    classpath, build_s = build(work)

    t0 = time.time()
    data = os.path.join(work, "data", f"s{a.seed}-x{SCALE}")
    manifest_path = os.path.join(data, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = data + f".tmp{os.getpid()}"
        manifest = gen.generate(tmp, a.seed, SCALE)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    gen_s = time.time() - t0

    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classpath, "perfbench.Main",
              data, run_dir, str(a.seconds), str(a.trace), ",".join(wl["queries"])])
    budget = RUN_TIMEOUT_S - (time.time() - t_start) + build_s
    code, _, _ = run_killable(cmd, budget)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: harness exited with code {code}")
    with open(result_path) as fh:
        res = json.load(fh)

    checks = oracle.check(data, os.path.join(run_dir, "results"),
                          os.path.join(run_dir, "oracle_sql.json"), wl["queries"])
    execs = res["executions"]
    failed = sum(e["attempted"] if not checks[q]["ok"] else e["failed"]
                 for q, e in execs.items())
    attempted = sum(e["attempted"] for e in execs.values())
    failed_frac = failed / attempted
    out_rows = sum(c["rows"] for c in checks.values())

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e, query_medians = end_to_end(res)
    metrics, listed = e2e, spec["end_to_end"]
    artifact = {
        "workload": a.workload, "seed": a.seed, "scale": SCALE, "cores": res["cores"],
        "seconds": a.seconds, "trace": a.trace, "queries": wl["queries"],
        "inputs": manifest, "gen_s": gen_s, "build_s": build_s,
        "setup": {k: res[k] for k in ("session_s", "register_s", "warmup_s", "setup_s")},
        "pass_s": pass_stats(res["untraced"]["wall_s"]), "query_median_s": query_medians,
        "query_s": res["untraced"]["per_query_s"],
        "end_to_end": e2e, "attempted": attempted, "failed": failed,
        "failed_frac": failed_frac, "oracle": checks, "errors": res["errors"],
    }
    if a.trace:
        metrics, repeat = per_layer(res, out_rows, failed_frac)
        listed = spec["per_layer"]
        with open(os.path.join(run_dir, "spans.json")) as fh:
            trace = json.load(fh)
        exact_not_repeated = [k for k in wl["exact"] if k not in repeat]
        for k in exact_not_repeated:
            log(f"{k} is declared exact but differed between traced passes: "
                f"{[c[k] for c in res['traced_counters']]}")
        artifact.update({
            "per_layer": metrics, "traced_pass_s": pass_stats(res["traced"]["wall_s"]),
            "traced_counters": res["traced_counters"],
            "exact_counts": wl["exact"], "repeated_on_every_traced_pass": repeat,
            "exact_not_repeated": exact_not_repeated,
            "spans": trace["spans"], "jobs": trace["jobs"],
        })
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    art_dir = os.path.join(work, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art_path = os.path.join(
        art_dir, f"{a.workload}-seed{a.seed}-c{res['cores']}-trace{a.trace}-{stamp}.json")
    with open(art_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0
    for q, c in checks.items():
        if not c["ok"]:
            log(f"{q}: {c['detail']}")
    for m in listed:
        print(f"{m['name']} {metrics[m['name']]:.6g} {m['unit']}")
    print(f"artifact {os.path.relpath(art_path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                                  for m in listed}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
