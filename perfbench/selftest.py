"""Self-test of the graft workload benchmark on tiny inputs.

Runs every workload BENCHMARK.json lists once untraced and once traced, on
the sf0.001 copy of the input tables, and asserts that each run is correct with no failed
operation and prints exactly the metrics BENCHMARK.json names, each with its
unit.  Run from the repository root:

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys


def main():
    spec = json.load(open("BENCHMARK.json"))
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--input", "sf0.001"]
            r = subprocess.run(cmd, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            before = len(problems)
            try:
                res = json.loads(r.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                problems.append(f"{tag}: no result line (exit {r.returncode})\n{r.stderr[-2000:]}")
                continue
            if r.returncode != 0 or not res["correct"] or res["failed"]:
                problems.append(f"{tag}: exit {r.returncode}, correct={res['correct']}, "
                                f"failed={res['failed']}\n{r.stderr[-2000:]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units "
                                f"{sorted(k for k in want if k in got and got[k] != want[k])}")
            bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], (int, float))
                   or v["value"] != v["value"]]
            if bad:
                problems.append(f"{tag}: non-numeric values for {bad}")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
