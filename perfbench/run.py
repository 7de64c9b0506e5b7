#!/usr/bin/env python3
"""graft layer benchmark: one workload, one run.

    python3 perfbench/run.py --workload sql_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and the
graft sources with sbt (perfbench/harness) and caches the build under
.perfbench/. Every run reads the fixture tables in perfbench/data; the seed
fixes the key order of every pass.

The last stdout line is one JSON object: correct, attempted, failed and the
metrics of BENCHMARK.json -- the end-to-end ones with --trace 0, the
per-layer ones with --trace 1. The line before it is a human summary with the
resolved key list, failed_frac, sample counts and, for a traced run, the
tracing overhead against the last untraced run of the same workload.

`--workload all` runs every workload once, untraced, and prints a table of
the end-to-end metrics instead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
HARNESS = os.path.join(HERE, "harness")
LIB_SOURCES = os.path.join(ROOT, "src", "main", "scala")
COMPARE = os.path.join(ROOT, "tools", "compare.py")
DATA = os.path.join(HERE, "data", "sf0.01")
WARM_DATA = os.path.join(HERE, "data", "sf0.001")
CORES = os.cpu_count()
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("perfbench: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def sources_digest():
    """Digest of everything the harness jar is built from."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SOURCES, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HARNESS, "build.sbt")])
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Builds the harness (and the graft sources it compiles) once per
    source state; returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.sha256"), os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the harness with sbt")
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = res.stdout.splitlines()
    if res.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: harness build failed")
    cp = next(l for l in reversed(lines) if l.startswith("/") and ".jar" in l)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def run_harness(cp, wl, name, keys, passes, trace, run_dir):
    raw = os.path.join(run_dir, "raw.jsonl")
    check = os.path.join(run_dir, "check")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + CONFIG["jvm_options"] + [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", name, "--modules", ",".join(wl["modules"]),
              "--keys", ",".join(keys), "--data", DATA, "--warm", WARM_DATA,
              "--passes", str(passes), "--cores", str(CORES),
              "--clear", wl["clear"], "--trace", str(trace), "--out", raw,
              "--check", check])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s")
    if code != 0:
        sys.stderr.write("".join(open(os.path.join(run_dir, "jvm.log")).readlines()[-30:]))
        raise SystemExit(f"perfbench: harness exited with {code}")
    records = [json.loads(l) for l in open(raw)]
    return records, check


def check_outputs(keys, data, check_dir, records):
    """Untimed output check. Oracled keys go through tools/compare.py's
    strict type-and-value compare against DuckDB on the same tables; keys
    without an oracle must give the same schema and row count twice.
    Returns {key: reason} for every key that failed."""
    check = next(r for r in records if r["ev"] == "check")
    bad = {f.split(":", 1)[0]: f for f in check["failed"]}
    res = subprocess.run([sys.executable, COMPARE, data, check_dir] + list(keys),
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         cwd=ROOT, timeout=300)
    verdict = {}
    for line in res.stdout.splitlines():
        head, _, rest = line.partition(" ")
        key = rest.split(":", 1)[0]
        if key in keys:
            verdict[key] = (head, line)
    for key in keys:
        head, line = verdict.get(key, ("MISSING", f"no compare verdict for {key}"))
        if head == "ROWS-ONLY":
            a, b = (pq.read_table(os.path.join(check_dir, k)) for k in (key, key + ".rerun"))
            if a.schema != b.schema or a.num_rows != b.num_rows or a.num_rows == 0:
                bad.setdefault(key, f"unstable no-oracle output: {a.num_rows} vs {b.num_rows} rows")
        elif head != "PASS":
            bad.setdefault(key, line)
    return bad


def bench(name, seed, seconds, trace):
    wl = CONFIG["workloads"][name]
    if not (os.path.isdir(LIB_SOURCES) and os.path.exists(COMPARE)):
        raise SystemExit("perfbench: graft sources or tools/compare.py not found; "
                         "run from the root of a graft checkout")
    cp = build()
    keys = metrics.permute(wl["keys"], seed) if wl["order"] == "seed" else wl["keys"]
    passes = max(CONFIG["min_passes"], int(seconds / wl["pass_s"]))
    run_dir = os.path.join(WORK, "runs", f"{name}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    records, check_dir = run_harness(cp, wl, name, keys, passes, trace, run_dir)
    log(f"harness JVM took {time.time() - t0:.1f}s")
    meta = next(r for r in records if r["ev"] == "meta")
    if meta["keys"] != keys:
        raise SystemExit("perfbench: harness ran a different key order than asked")
    t0 = time.time()
    bad = check_outputs(keys, DATA, check_dir, records)
    log(f"oracle compare took {time.time() - t0:.1f}s")
    e2e, detail = metrics.end_to_end(records, bad)
    summary = {"workload": name, "seed": seed, "data": os.path.relpath(DATA, ROOT), "cores": CORES,
               "clear": wl["clear"], "n_keys": len(keys), "keys": keys,
               "module_sizes": {m: len(ks) for m, ks in meta["modules"].items()},
               "failed_frac": e2e["failed_frac"], "bad_keys": bad, **detail}
    errors = sorted({r["key"] + ": " + r["error"] for r in records
                     if r["ev"] == "key" and not r["ok"]})
    if errors:
        summary["errors"] = errors[:10]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    if trace:
        modules = {m for w in CONFIG["workloads"].values() for m in w["modules"]}
        layer = metrics.per_layer(records, name, CORES, modules, CONFIG["sites"])
        values = {m["name"]: layer[m["name"]] for m in BENCH["per_layer"]}
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in metrics.spans(records, name):
                f.write(json.dumps(s) + "\n")
        last = os.path.join(WORK, "last", f"{name}.json")
        if os.path.exists(last):
            untraced = json.load(open(last))["queries_per_s"]
            summary["trace_overhead"] = 1.0 - e2e["queries_per_s"] / untraced
    else:
        values = {m["name"]: e2e[m["name"]] for m in BENCH["end_to_end"]}
        os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
        with open(os.path.join(WORK, "last", f"{name}.json"), "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"summary": summary, "end_to_end": e2e}))
    attempted, failed = detail["attempted"], detail["failed"]
    return {"correct": failed == 0 and not bad, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


def report(seed, seconds):
    """Every workload once, untraced: the six end-to-end metrics by name."""
    units = {"queries_per_s": "1/s", "query_s.p50": "s", "query_s.tail": "s",
             "setup_s": "s", "failed_frac": "ratio", "rss_peak_mb": "MB"}
    for name in CONFIG["workloads"]:
        bench(name, seed, seconds, 0)
        e2e = json.load(open(os.path.join(WORK, "last", f"{name}.json")))
        cells = "  ".join(f"{k}={e2e[k]:.4g} {u}" for k, u in units.items())
        print(f"{name:12s} {cells}", flush=True)


BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        report(a.seed, a.seconds)
        return
    if a.workload not in CONFIG["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}")
    t0 = time.time()
    result = bench(a.workload, a.seed, a.seconds, a.trace)
    log(f"run took {time.time() - t0:.1f}s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
