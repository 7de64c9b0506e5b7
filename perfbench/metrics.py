"""Arithmetic that turns the harness's raw records into benchmark metrics.

Everything here is a pure function over plain lists and dicts, so
perfbench/test_metrics.py can check it without Spark. Times are epoch
milliseconds unless a name ends in `_s`.
"""
import hashlib
import math
import re
import statistics

TAIL_GRID = tuple(float(p) for p in range(50, 100)) + (99.9,)
MB = 1024.0 * 1024.0


def permute(keys, seed):
    """The run order of `keys` for `seed`: sorted by SHA-256 of "seed:key".
    Deterministic, independent of the input order, and a different order for
    (almost) every seed."""
    digest = lambda k: hashlib.sha256(f"{seed}:{k}".encode()).hexdigest()
    return sorted(keys, key=digest)


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the time its children cover inside it."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def driver_only(window, stage_intervals):
    """Wall time of `window` during which no stage was running."""
    return self_time(window, stage_intervals)


def rank_value(sorted_samples, p):
    """Nearest-rank percentile p (0 < p <= 100) of an ascending list."""
    n = len(sorted_samples)
    return sorted_samples[max(0, math.ceil(p / 100.0 * n) - 1)]


def tail(samples, min_beyond=10, grid=TAIL_GRID):
    """The highest percentile of `grid` (whole percents from 50, then 99.9)
    with at least `min_beyond` samples above its nearest rank, as
    (percentile, value); None if even the median has fewer beyond it."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in grid:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            best = (p, rank_value(xs, p))
    return best


def count_failures(key_records, bad_keys):
    """(attempted, failed) over timed key executions: an execution fails if
    it threw, or if its key's output failed the oracle check."""
    attempted = len(key_records)
    failed = sum(1 for r in key_records if not r["ok"] or r["key"] in bad_keys)
    return attempted, failed


def end_to_end(records, bad_keys):
    """The user-visible metrics of one untraced run."""
    keys = [r for r in records if r["ev"] == "key"]
    passes = [r for r in records if r["ev"] == "pass"]
    setup = next(r for r in records if r["ev"] == "setup")
    end = next(r for r in records if r["ev"] == "end")
    lat = [(r["t1"] - r["t0"]) / 1e3 for r in keys]
    qps = []
    for p in passes:
        good = sum(1 for r in keys
                   if r["pass"] == p["pass"] and r["ok"] and r["key"] not in bad_keys)
        qps.append(good / ((p["t1"] - p["t0"]) / 1e3))
    attempted, failed = count_failures(keys, bad_keys)
    tail_p = tail(lat)
    return {
        "queries_per_s": statistics.median(qps),
        "query_s.p50": statistics.median(lat),
        "query_s.tail": tail_p[1] if tail_p else max(lat),
        "setup_s": setup["s"],
        "rss_peak_mb": end["rss_peak_mb"],
        "failed_frac": failed / attempted,
    }, {
        "samples": len(lat), "tail_percentile": tail_p[0] if tail_p else 100.0,
        "passes": len(passes),
        "attempted": attempted, "failed": failed,
    }


def site_of(description):
    """Source file an action was issued from: "count at Caching.scala:87" ->
    "Caching"; None when the call site is not a Scala source line."""
    m = re.search(r" at ([A-Za-z0-9_$]+)\.scala:\d+", description or "")
    return m.group(1) if m else None


def _index(records):
    """Group trace events by kind, pairing starts with their ends."""
    ev = {}
    for r in records:
        ev.setdefault(r["ev"], []).append(r)
    exec_end = {r["id"]: r["t1"] for r in ev.get("exec_end", [])}
    job_end = {r["id"]: r["t1"] for r in ev.get("job_end", [])}
    execs = {r["id"]: dict(r, t1=exec_end.get(r["id"], r["t0"])) for r in ev.get("exec", [])}
    jobs = [dict(r, t1=job_end.get(r["id"], r["t0"])) for r in ev.get("job", [])]
    return ev, execs, jobs


def per_layer(records, workload, cores, modules, sites):
    """Per-pass layer metrics of one traced run, each the median over the
    timed passes. `modules` and `sites` fix which named metrics appear."""
    ev, execs, jobs = _index(records)
    stages = ev.get("stage", [])
    stage_by_id = {}
    for s in stages:
        stage_by_id.setdefault(s["id"], []).append(s)
    per_pass = []
    for p in ev["pass"]:
        lo, hi = p["t0"], p["t1"]
        wall = (hi - lo) / 1e3
        keys = [r for r in ev["key"] if r["pass"] == p["pass"]]
        prefix = f"{workload}:{p['pass']}:"
        pjobs = [j for j in jobs if (j.get("request") or "").startswith(prefix)]
        key_of = {r["key"]: r for r in keys}
        build_win = lambda j: key_of[j["request"][len(prefix):]]
        build_jobs = [j for j in pjobs if j["t0"] <= build_win(j)["tb"]]
        pexecs = [e for e in execs.values() if lo <= e["t0"] <= hi and e["root"] == e["id"]]
        build_execs = [e for e in pexecs
                       if any(k["t0"] <= e["t0"] <= k["tb"] for k in keys)]
        pstages, skipped = [], 0
        for j in pjobs:
            for sid in j["stages"]:
                ran = [s for s in stage_by_id.get(sid, []) if j["t0"] <= s["t1"] <= j["t1"]]
                pstages.extend(ran)
                skipped += 0 if ran else 1
        seen, uniq = set(), []
        for s in pstages:
            if (s["id"], s["attempt"]) not in seen:
                seen.add((s["id"], s["attempt"]))
                uniq.append(s)
        stage_spans = [(s["t0"], s["t1"]) for s in uniq]
        driver_s = driver_only((lo, hi), stage_spans) / 1e3
        run_s = sum(s["run_s"] for s in uniq)
        phases = [f for f in ev.get("phases", []) if lo <= f["t0"] <= hi]
        m = {
            "queries.build_s": sum(k["tb"] - k["t0"] for k in keys) / 1e3,
            "queries.build_self_s": sum(
                self_time((k["t0"], k["tb"]),
                          [(e["t0"], e["t1"]) for e in pexecs]) for k in keys) / 1e3,
            "queries.build_actions": len(build_execs),
            "queries.build_jobs": len(build_jobs),
            "sink.s": sum(k["t1"] - k["tb"] for k in keys) / 1e3,
            "catalyst.analysis_s": sum(f["analysis_s"] for f in phases)
                                   + sum(k.get("analysis_s", 0.0) for k in keys),
            "catalyst.optimize_s": sum(f["optimize_s"] for f in phases),
            "catalyst.plan_s": sum(f["plan_s"] for f in phases),
            "scheduler.actions": len(pexecs),
            "scheduler.jobs": len(pjobs),
            "scheduler.stages": len(uniq),
            "scheduler.stages_skipped": skipped,
            "scheduler.tasks": sum(s["tasks"] for s in uniq),
            "scheduler.stage_covered_s": wall - driver_s,
            "scheduler.driver_only_s": driver_s,
            "executor.task_run_s": run_s,
            "executor.task_cpu_s": sum(s["cpu_s"] for s in uniq),
            "executor.gc_s": sum(s["gc_s"] for s in uniq),
            "executor.core_util": run_s / (wall * cores),
            "shuffle.write_mb": sum(s["shuffle_write_b"] for s in uniq) / MB,
            "shuffle.read_mb": sum(s["shuffle_read_b"] for s in uniq) / MB,
            "shuffle.spill_mb": sum(s["spill_b"] for s in uniq) / MB,
            "sources.read_mb": sum(s["input_b"] for s in uniq) / MB,
            "sources.records_in": sum(s["input_records"] for s in uniq),
            "codegen.compiles": sum(k["compiles"] for k in keys),
            "codegen.compile_s": sum(k["compile_s"] for k in keys),
            "Caching.pins": sum(k.get("pins", 0) for k in keys),
            "Caching.cached_mb": sum(k.get("cached_mb", 0.0) for k in keys),
            "Caching.clear_s": sum(k["clear_s"] for k in keys) + p["clear_s"],
        }
        for mod in modules:
            m[f"queries.{mod}.s"] = sum(
                k["tb"] - k["t0"] for k in keys if k["module"] == mod) / 1e3
        job_site = {j["id"]: site_of(execs.get(execs.get(j["exec"], {}).get("root"), {})
                                     .get("desc")) for j in pjobs if j.get("exec") is not None}
        for site in sites:
            sj = [j for j in pjobs if job_site.get(j["id"]) == site]
            sids = {sid for j in sj for sid in j["stages"]}
            m[f"site.{site}.actions"] = sum(1 for e in pexecs if site_of(e["desc"]) == site)
            m[f"site.{site}.jobs"] = len(sj)
            m[f"site.{site}.stage_s"] = sum(
                s["t1"] - s["t0"] for s in uniq if s["id"] in sids) / 1e3
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def spans(records, workload):
    """The span tree of a traced run, flattened: key -> build | sink ->
    SQL execution -> job -> stage, each with its self time in seconds."""
    ev, execs, jobs = _index(records)
    stages = {}
    for s in ev.get("stage", []):
        stages.setdefault(s["id"], []).append(s)
    out = []

    def add(kind, sid, parent, lo, hi, children, **extra):
        out.append(dict(kind=kind, id=sid, parent=parent, t0=lo, t1=hi,
                        dur_s=(hi - lo) / 1e3, self_s=self_time((lo, hi), children) / 1e3,
                        **extra))

    for k in ev.get("key", []):
        rid = f"{workload}:{k['pass']}:{k['key']}"
        kjobs = [j for j in jobs if j.get("request") == rid]
        for part, lo, hi in (("build", k["t0"], k["tb"]), ("sink", k["tb"], k["t1"])):
            pid = f"{rid}:{part}"
            pexecs = [e for e in execs.values() if lo <= e["t0"] <= hi and e["root"] == e["id"]]
            add(part, pid, rid, lo, hi, [(e["t0"], e["t1"]) for e in pexecs])
            for e in pexecs:
                ejobs = [j for j in kjobs if j.get("exec") is not None
                         and execs.get(j["exec"], {}).get("root") == e["id"]]
                add("exec", f"exec:{e['id']}", pid, e["t0"], e["t1"],
                    [(j["t0"], j["t1"]) for j in ejobs], desc=e["desc"])
                for j in ejobs:
                    jst = [s for sid in j["stages"] for s in stages.get(sid, [])
                           if j["t0"] <= s["t1"] <= j["t1"]]
                    add("job", f"job:{j['id']}", f"exec:{e['id']}", j["t0"], j["t1"],
                        [(s["t0"], s["t1"]) for s in jst])
                    for s in jst:
                        add("stage", f"stage:{s['id']}.{s['attempt']}", f"job:{j['id']}",
                            s["t0"], s["t1"], [], tasks=s["tasks"])
        add("key", rid, None, k["t0"], k["t1"], [(k["t0"], k["tb"]), (k["tb"], k["t1"])],
            ok=k["ok"])
    return out
