#!/usr/bin/env python3
"""Re-pin the bench baselines from a fresh quiet-host run.

Usage: repin.py [bench_last.json]

- tools/bench_baseline.json: per query, min(existing pin, fresh) —
  the baseline keeps the best-KNOWN time; new queries enter at their
  fresh measurement. Queries absent from the fresh run keep their pin
  (a filtered SPARK_GRAFT_ONLY run must not evict the rest). No wall
  pin ever goes up, a changed plan's included: a loaded-host reading
  would loosen the gate (q68_link_pred read 2.1x its quiet pin on one
  refresh), and a plan that is really slower shows as a NOISE
  adjudication on every later check rather than being absorbed.
- tools/shuffle_baseline.json: fresh bytes WHOLESALE for measured
  queries (bytes track the current plan — keeping stale bytes would
  make the NOISE adjudication compare against a plan that no longer
  exists), existing entries kept for unmeasured ones.
- the `jobs` map of tools/bench_baseline.json: each measured query's
  second-run job count (the sidecar's `layers.jobs`) WHOLESALE, like
  the bytes; benchcheck's job gate compares against it.

Prints every pin that moved. Refuses a fresh run with failures.
"""
import json
import sys

def main():
    tooldir = __file__.rsplit("/", 1)[0]
    src = sys.argv[1] if len(sys.argv) > 1 else tooldir + "/bench_last.json"
    fresh = json.load(open(src))
    if fresh.get("failed"):
        sys.exit(f"fresh run has failures: {fresh['failed']} — not pinning")
    bq = json.load(open(tooldir + "/bench_baseline.json"))
    try:
        sb = json.load(open(tooldir + "/shuffle_baseline.json"))
    except FileNotFoundError:
        sb = {}
    moved = 0
    for name, t in fresh["queries"].items():
        old = bq["queries"].get(name)
        new = t if old is None else min(old, t)
        if old is None or abs(new - old) > 1e-9:
            print(f"pin {name}: {old if old is not None else '(new)'} -> {new:.3f}")
            moved += 1
        bq["queries"][name] = round(new, 3)
    for name, s in fresh.get("shuffle", {}).items():
        if sb.get(name) != s:
            moved += 1
        sb[name] = s
    jobs = bq.setdefault("jobs", {})
    for name, layer in fresh.get("layers", {}).items():
        if jobs.get(name) != layer["jobs"]:
            print(f"jobs {name}: {jobs.get(name, '(new)')} -> {layer['jobs']}")
            moved += 1
        jobs[name] = layer["jobs"]
    json.dump(bq, open(tooldir + "/bench_baseline.json", "w"), indent=1, sort_keys=True)
    json.dump(sb, open(tooldir + "/shuffle_baseline.json", "w"), indent=1, sort_keys=True)
    print(f"{len(fresh['queries'])} measured, {moved} entries moved")

if __name__ == "__main__":
    main()
