#!/usr/bin/env python3
"""Mechanical cross-round perf-regression ledger (VERDICT r19 item 1).

Single driver bench runs swing +-25% with host load (r19: the driver
single-run total said +5.6% while the idle protocol said -23%), so
round-over-round comparison must key on the committed per-key
idle-median ledger, not on BENCH_r{N}.json deltas or prose.

BENCHLEDGER.jsonl: one line per round —
  {"round": N, "sf": "...", "runs": R, "total_med": T,
   "keys": {"<key>": <median sec over the idle runs>, ...}}

Usage:
  # after the round's idle three-run (Bench.scala x3 on a load<1 host,
  # output concatenated into one log):
  python3 tools/benchledger.py append <round> <idle_log> \
      [BENCHLEDGER.jsonl] [--timekeys <timekey_log>]
  # then diff the last two rounds and paste the output into BASELINE.md:
  python3 tools/benchledger.py diff [BENCHLEDGER.jsonl]

diff flags a key when its median moved > 25% AND > 0.15 s between the
last two recorded rounds (both gates: small keys jitter by ratio, big
keys by seconds). New/removed keys are listed separately. Informational
exit 0 — the human adjudicates (a deliberate re-plan is expected to
move its key; the point is that it moves IN THE LEDGER, not silently).

--timekeys (VERDICT r20 item 1): suite medians are shared-JVM,
suite-order numbers — same-day settled runs drift +-4-17% per key, which
forced a manual adjudication table every round. Passing the output of
tools/timekeys.scala (isolated fresh-JVM, warm, 3-run medians for the
top-cost keys) OVERRIDES those keys' suite medians in the ledger line
and records them under "isolated", so cmd_diff compares
isolation-protocol numbers wherever they exist. The suite run still
supplies total_med and every non-isolated key. timekeys runs Bench's own
per-key step (graft.Bench.timeKey: warm on the sf0.001 sibling, then the
dedup kernel warm before each timed run), so an isolated median differs
from a suite median only in run count and neighbours, not in what is
warmed.

The ledger line also records the raw per-run suite totals ("totals",
VERDICT r20 item 5) so BASELINE round sections can be generated from the
ledger instead of hand-transcribed.
"""
import json
import statistics
import sys

LEDGER = "BENCHLEDGER.jsonl"


def read_ledger(path):
    try:
        with open(path) as f:
            return [json.loads(l) for l in f if l.strip()]
    except FileNotFoundError:
        return []


def read_timekeys(path):
    """Parse `TIMEKEY <key> med=<sec> runs=...` lines from a
    tools/timekeys.scala log into {key: median_sec}."""
    meds = {}
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 3 and parts[0] == "TIMEKEY":
                med = next((p for p in parts if p.startswith("med=")), None)
                if med:
                    meds[parts[1]] = round(float(med[4:]), 3)
    if not meds:
        sys.exit(f"no TIMEKEY lines found in {path}")
    return meds


def cmd_append(rnd, log_path, ledger_path, timekeys_path=None):
    runs = []  # list of {key: sec}
    sf = None
    with open(log_path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            if d.get("metric") == "queries_full":
                runs.append(d["queries"])
                sf = d.get("sf", sf)
    if not runs:
        sys.exit(f"no queries_full lines found in {log_path}")
    keys = sorted(set().union(*[set(r) for r in runs]))
    # Bench.scala records a crashed key as -1.0 in queries_full (its own
    # total line already excludes negatives). A crash must surface as a
    # loud CRASHED entry, not poison the medians or read as "improved".
    meds, crashed = {}, []
    for k in keys:
        good = [r[k] for r in runs if k in r and r[k] >= 0]
        if good:
            meds[k] = round(statistics.median(good), 3)
        if any(k in r and r[k] < 0 for r in runs):
            crashed.append(k)
    totals = [round(sum(v for v in r.values() if v >= 0), 2) for r in runs]
    entry = {"round": int(rnd), "sf": sf, "runs": len(runs),
             "totals": totals,
             "total_med": round(statistics.median(totals), 2),
             "keys": meds}
    isolated = {}
    if timekeys_path:
        isolated = read_timekeys(timekeys_path)
        unknown = sorted(set(isolated) - set(meds))
        if unknown:
            sys.exit(f"timekeys log has keys absent from the suite run: {unknown}")
        meds.update(isolated)
        entry["isolated"] = sorted(isolated)
    if crashed:
        entry["crashed"] = sorted(crashed)
    with open(ledger_path, "a") as f:
        f.write(json.dumps(entry, sort_keys=True) + "\n")
    print(f"appended round {rnd}: {len(meds)} keys, "
          f"{entry['runs']} runs, totals {totals}, "
          f"total_med {entry['total_med']} s"
          + (f", isolated medians for {len(isolated)} keys" if isolated else "")
          + (f", CRASHED: {crashed}" if crashed else ""))


def cmd_diff(ledger_path):
    rounds = read_ledger(ledger_path)
    if len(rounds) < 2:
        sys.exit(f"need >= 2 rounds in {ledger_path}, have {len(rounds)}")
    a, b = rounds[-2], rounds[-1]
    ka, kb = a["keys"], b["keys"]
    print(f"== BENCHLEDGER diff: round {a['round']} -> {b['round']} "
          f"(idle median-of-{b['runs']}, {b['sf']}) ==")
    # ADVICE r20: a pathological prior-round entry (total_med <= 0) must
    # not crash the diff — report it and skip the percentage
    if a.get("total_med", 0) > 0:
        print(f"total_med: {a['total_med']} -> {b['total_med']} s "
              f"({(b['total_med'] / a['total_med'] - 1) * 100:+.1f}%)")
    else:
        print(f"total_med: {a.get('total_med')} -> {b['total_med']} s "
              f"(prior total <= 0 — pathological entry, no percentage)")
    iso_a, iso_b = set(a.get("isolated", [])), set(b.get("isolated", []))
    moved, skipped = [], []
    for k in sorted(set(ka) & set(kb)):
        old, new = ka[k], kb[k]
        if old <= 0:
            # ADVICE r20: don't silently hide keys whose prior median is
            # unusable — a crashed/zero prior entry needs eyes, not absence
            skipped.append(k)
            continue
        delta = new - old
        if abs(delta) / old > 0.25 and abs(delta) > 0.15:
            moved.append((delta / old, k, old, new))
    for rel, k, old, new in sorted(moved, reverse=True):
        tag = "REGRESSED" if rel > 0 else "improved "
        # flag protocol mixes: an isolated-vs-suite comparison carries the
        # suite run's contention on exactly one side
        proto = ""
        if (k in iso_a) != (k in iso_b):
            proto = " [protocol change: " + \
                ("isolated->suite" if k in iso_a else "suite->isolated") + "]"
        print(f"  {tag} {k:<28} {old:6.2f} -> {new:6.2f} s"
              f" ({rel * 100:+.0f}%){proto}")
    if not moved:
        print("  no key moved > 25% and > 0.15 s")
    for k in skipped:
        print(f"  SKIPPED   {k:<28} (prior median <= 0 — unusable baseline)")
    for k in sorted(set(kb) - set(ka)):
        print(f"  NEW       {k:<28}          {kb[k]:6.2f} s")
    for k in sorted(set(ka) - set(kb)):
        print(f"  REMOVED   {k:<28} {ka[k]:6.2f} s")
    for k in b.get("crashed", []):
        print(f"  CRASHED   {k:<28} (negative sentinel in >= 1 run)")


if __name__ == "__main__":
    args = sys.argv[1:]
    tk = None
    if "--timekeys" in args:
        i = args.index("--timekeys")
        if i + 1 >= len(args):
            sys.exit("--timekeys needs a timekey log path")
        tk = args[i + 1]
        args = args[:i] + args[i + 2:]
    if len(args) >= 3 and args[0] == "append":
        cmd_append(args[1], args[2],
                   args[3] if len(args) > 3 else LEDGER, timekeys_path=tk)
    elif len(args) >= 1 and args[0] == "diff":
        cmd_diff(args[1] if len(args) > 1 else LEDGER)
    else:
        sys.exit(__doc__)
