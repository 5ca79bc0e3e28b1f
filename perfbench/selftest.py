"""Self-test of the benchmark, at the fast size (sf 0.001 tables, fewer
calls and batches).

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced and asserts that each
printed line has exactly the metrics BENCHMARK.json names for that mode,
each with its unit and a numeric value, that the traced run wrote a
trace with spans and took its headline metrics from the untraced run of
the same seed. Then runs exec-bound with a deliberately wrong pinned
hash and asserts that the command fails. Exits non-zero on the first
failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--fast", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def check(cond, msg):
    if not cond:
        print(f"SELFTEST FAIL: {msg}", file=sys.stderr)
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    for w in (x["name"] for x in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, line, err = run(w, trace)
            check(code == 0 and line is not None, f"{w} trace={trace} exited {code}:\n{err[-3000:]}")
            check(set(line) == {"correct", "attempted", "failed", "metrics"}, f"{w}: keys {sorted(line)}")
            check(line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, f"{w}: {line}")
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = line["metrics"]
            check(set(got) == set(want), f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}")
            for name, unit in want.items():
                v = got[name]
                check(v["unit"] == unit and isinstance(v["value"], (int, float)),
                      f"{w} trace={trace}: {name} = {v}, want unit {unit}")
            if trace:
                path = os.path.join(build_dir, "traces", f"{w}-seed7-trace1-fast.json")
                with open(path) as f:
                    tr = json.load(f)
                check(len(tr["spans"]) > 0 and tr["self_ms_per_layer"], f"{w}: empty trace {path}")
                with open(os.path.join(build_dir, "results", f"{w}-seed7-trace1-fast.json")) as f:
                    src = json.load(f).get("untraced_from", {}).get("file")
                check(src == f"{w}-seed7-trace0-fast.json", f"{w}: headline metrics taken from {src}")
            print(f"selftest: {w} trace={trace} ok ({line['attempted']} operations)")
    code, line, err = run("exec-bound", 0, "--corrupt", "q01_pricing_summary")
    check(code != 0, "a wrong pinned hash for q01_pricing_summary did not fail the command")
    check(line is not None and not line["correct"] and line["failed"] >= 1, f"corrupt run printed {line}")
    print("selftest: a wrong pinned hash fails the command: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
