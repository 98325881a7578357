#!/usr/bin/env python3
"""Bench regression gate: compare a fresh Bench JSON line against the
pinned per-query baseline (tools/bench_baseline.json).

Usage: benchcheck.py <bench.json|-> [max_ratio]

<bench.json> may be the raw one-line Bench output, or a driver
BENCH_r*.json wrapper (the "parsed" key is used). Queries absent from
the baseline are reported as NEW and not gated; a query that regresses
more than max_ratio (default 2.0x, small absolute times are exempt
below 1.5 s — fixed-overhead noise territory) fails the check.
Failures come from BOTH the "failed" array and t<0 sentinels in the
queries map. When the line was line-budget truncated ("omitted" > 0),
the full map is recovered from tools/bench_last.json if its totals
match; otherwise the MISSING check is skipped (truncation is not a
regression). A second, noise-immune gate compares per-query shuffle
WRITE BYTES (from the bench_last.json sidecar) against
tools/shuffle_baseline.json: bytes are deterministic where wall time
is not, so plan regressions (lost broadcast, dropped partial agg)
fail here even when timing noise hides them.

NOISE ADJUDICATION (r10): a wall-time regression whose shuffle read
AND write bytes are unchanged (within 0.2% / 4 KiB codec jitter)
against the pinned shuffle baseline is reported as
"NOISE (shuffle identical)" and does NOT fail the gate — the plan
provably did not change, so the wall delta is host contention (r9:
21 queries >2x on a contended driver host, all 21 within 0.08% of
their byte pins; the same commit measured 196.9 s vs 300.1 s on a
quiet host). A ZERO-SHUFFLE query (pure scan+project) has no bytes
to prove its plan unchanged, so (r11) the sidecar carries a
scan-side signal — input rows/bytes read (inRows/inBytes) — and the
adjudication for a zero-shuffle query requires EXACTLY-equal input
rows (deterministic for an unchanged plan), input bytes within 2%,
and still-zero shuffle. Pins recorded before r11 lack the signal →
no exemption, wall gate stays authoritative (fail-closed). A
shuffle-byte delta beyond jitter disqualifies the exemption, and the
separate bytes gate still fails on byte growth.

JOB-COUNT GATE: per query, the second run's Spark job count (the
sidecar's `layers.jobs`) against the `jobs` pins in
tools/bench_baseline.json. Wall time at sf0.1 tracks jobs × ~80 ms, and
a job count is not host noise, so a query that runs more than
JOBS_TOLERANCE jobs over its pin is a JOBS problem even when its wall
time looks fine. Queries without a pin are not gated. Exit 1 on any
non-noise regression, JOBS problem or failed query.
"""
import json
import sys

# Jobs a query may run over its pin. Two full 32-core refreshes of one
# tree differ by at most this many jobs per query (AQE re-plans shuffle
# stages from runtime sizes); a plan change that adds a stage per round
# of an iterative operator adds several.
JOBS_TOLERANCE = 2


def load_bench(path):
    raw = json.load(open(path)) if path != "-" else json.load(sys.stdin)
    if "parsed" in raw:
        raw = raw["parsed"]
    return raw


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    bench = load_bench(sys.argv[1])
    max_ratio = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    tooldir = __file__.rsplit("/", 1)[0]
    base = json.load(open(tooldir + "/bench_baseline.json"))
    bq, nq = base["queries"], dict(bench["queries"])
    omitted = bench.get("omitted", 0)
    truncated = omitted > 0
    if truncated:
        # The budgeted line keeps only the slowest entries; the complete
        # map is written as a sidecar by the same bench run. Trust it only
        # if its total matches this line's (same run, not a stale file).
        try:
            full = json.load(open(tooldir + "/bench_last.json"))
            if abs(full.get("value", -1) - bench.get("value", -2)) < 1e-6:
                nq = dict(full["queries"])
                truncated = False
                print(f"(line omitted {omitted} queries; "
                      "full map recovered from bench_last.json)")
        except Exception:
            pass
    if truncated:
        print(f"(line omitted {omitted} queries and no matching "
              "bench_last.json sidecar; MISSING check skipped)")
    # Shuffle maps load FIRST: the wall loop consults them to adjudicate
    # noise. Prefer the shuffle map of the bench being CHECKED; only
    # fall back to the bench_last.json sidecar when its totals prove it
    # is the same run (checking an older BENCH_r*.json against an
    # unrelated sidecar would silently gate a different run's bytes).
    sbase, snew = {}, {}
    try:
        sbase = json.load(open(tooldir + "/shuffle_baseline.json"))
    except FileNotFoundError:
        print("(no shuffle_baseline.json — bytes gate skipped)")
    def same_run(key):
        if key in bench:
            return bench[key]
        try:
            full = json.load(open(tooldir + "/bench_last.json"))
        except FileNotFoundError:
            print(f"(no bench_last.json sidecar — {key} gate skipped)")
            return {}
        if abs(full.get("value", -1) - bench.get("value", -2)) < 1e-6:
            return full.get(key, {})
        print(f"(bench_last.json is a different run; {key} gate skipped)")
        return {}
    snew = same_run("shuffle") or {}

    def shuffle_identical(name):
        # "Identical" = unchanged within 0.2% (or 4 KiB, whichever is
        # larger) on BOTH read and write: parquet/lz4 block boundaries
        # and AQE coalescing jitter bytes by <0.1% run-to-run (r9: the
        # 21 contended-host flags all sat within 0.08%), while any real
        # plan change — a lost broadcast, a dropped partial agg, a new
        # exchange — moves bytes by many MB / multiples.
        b, n = sbase.get(name), snew.get(name)
        if not b or not n:
            return False
        def close(x, y):
            return abs(x - y) <= max(4096, 0.002 * max(x, y))
        if not (close(b["read"], n["read"]) and close(b["write"], n["write"])):
            return False
        if b["read"] + b["write"] > 0:
            return True
        # Zero-shuffle scan: bytes can't prove the plan unchanged (a
        # codegen fallback moves no bytes and neither does a scan). The
        # scan-side signal stands in: input ROWS are deterministic for
        # an unchanged plan (exact match required, and must be nonzero
        # — an all-zero sidecar proves nothing); input BYTES jitter
        # slightly with readahead/task boundaries (2% / 64 KiB). Pins
        # without the signal (pre-r11) get no exemption: fail-closed.
        if "inRows" not in b or "inRows" not in n or b["inRows"] == 0:
            return False
        return (b["inRows"] == n["inRows"]
                and abs(b["inBytes"] - n["inBytes"])
                <= max(65536, 0.02 * max(b["inBytes"], n["inBytes"])))

    # A query can fail without appearing in the truncated map at all —
    # the "failed" array is authoritative, t<0 sentinels are the backup.
    failed = set(bench.get("failed", []))
    bad = [f"FAILED  {name}: bench recorded a failure" for name in sorted(failed)]
    noise = 0
    for name, t in sorted(nq.items()):
        if name in failed:
            continue  # already reported from the failed array
        if t is None or t < 0:
            bad.append(f"FAILED  {name}: bench recorded a failure sentinel")
            continue
        if name not in bq:
            print(f"NEW     {name}: {t:.2f}s (not in baseline, not gated)")
            continue
        b = bq[name]
        ratio = t / b if b > 0 else float("inf")
        tag = "ok"
        # Gate on ratio AND absolute delta. Sub-second queries at
        # local[32] are fixed-overhead dominated and the baseline keeps
        # the best-KNOWN time, so an outlier-fast pin (page-cache-warm,
        # idle host) manufactures phantom regressions: q37_incr_agg
        # pinned at 0.30s measured 0.3-1.3s across quiet-host reruns
        # with an unchanged plan; q19_udaf_hll 0.58s-pinned measured
        # 1.65s with byte-identical shuffle. The absolute-delta guard
        # (>= 1.5s SLOWER than the pin, not > 1.5s total) keeps those
        # quiet while still tripping on a genuine many-x CPU-side
        # regression of a short query (e.g. codegen falling back to
        # interpreted: 1s -> 6s changes no shuffle bytes but adds 5s).
        # (r9: asof_join_forward at exactly t-b == 1.5s escaped on the
        # strict > — the boundary is now inclusive; noise at the
        # boundary is the NOISE path's job, not the exemption's.)
        if ratio > max_ratio and t - b >= 1.5:
            if shuffle_identical(name):
                tag = "NOISE"
                noise += 1
                print(f"NOISE     {name}: {t:.2f}s vs {b:.2f}s ({ratio:.2f}x) "
                      "— shuffle identical, plan unchanged; host contention")
                continue
            tag = "REGRESSED"
            bad.append(f"{tag} {name}: {t:.2f}s vs baseline {b:.2f}s ({ratio:.1f}x)")
        elif ratio < 1 / max_ratio and b > 0.5:
            tag = "improved"
        print(f"{tag:9s} {name}: {t:.2f}s vs {b:.2f}s ({ratio:.2f}x)")
    if not truncated:
        for name in sorted(set(bq) - set(nq)):
            bad.append(f"MISSING {name}: in baseline but not in this bench run")
    # Shuffle-BYTES gate: plans are deterministic, so per-query shuffle
    # write bytes are stable run to run (unlike wall time, which noise
    # swamps below ~1.5 s). A lost broadcast, a dropped map-side partial
    # aggregate, or a new exchange shows up here as a bytes jump even
    # when the timing gate can't see it. Gated at 1.5x AND > 1 MiB
    # absolute (AQE coalescing jitters small shuffles by a few percent;
    # tiny queries legitimately fluctuate by kilobytes).
    for name in sorted(set(sbase) & set(snew)):
        bw, nw = sbase[name]["write"], snew[name]["write"]
        if nw > 1.5 * bw and nw - bw > 1 << 20:
            bad.append(
                f"SHUFFLE {name}: {nw/1e6:.1f} MB written vs baseline "
                f"{bw/1e6:.1f} MB ({nw/max(bw,1):.1f}x) — plan regression?")
    # Job-count gate over the run's layers (the line itself carries
    # none, so they come from its sidecar).
    layers = same_run("layers") or {}
    jbase = base.get("jobs", {})
    for name in sorted(set(jbase) & set(layers)):
        pin, jobs = jbase[name], layers[name].get("jobs")
        if jobs is not None and jobs > pin + JOBS_TOLERANCE:
            bad.append(f"JOBS    {name}: {jobs} jobs vs pinned {pin} "
                       f"(tolerance {JOBS_TOLERANCE})")
    noise_note = f" ({noise} wall flags adjudicated NOISE)" if noise else ""
    print(f"\n{len(nq)} queries, {len(bad)} problems{noise_note}")
    if bad:
        print("\n".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
