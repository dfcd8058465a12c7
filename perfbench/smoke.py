"""Smoke test of the benchmark itself: every workload at sf0.001 with a short
window, untraced and traced. Fails unless each run exits 0, reports correct
output, and prints every metric BENCHMARK.json names with its unit.

Usage: python3 perfbench/smoke.py      (a few minutes on 4 cores)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "2",
                                     "--trace", str(trace), "--sf", "0.001"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = r.stdout.strip().splitlines()
            tag = f"{w['name']} trace={trace}"
            if r.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']}"
                                f" attempted={res['attempted']}\n{r.stderr[-2000:]}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    failures.append(f"{tag}: metric {m['name']} missing or wrong: {got}")
            if not any(f.startswith(tag + ":") for f in failures):
                print(f"ok   {tag}: {res['attempted']} ops", flush=True)
    for f in failures:
        print(f"FAIL {f}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
