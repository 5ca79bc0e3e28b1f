"""One benchmark run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (cached), generates the fixed query
tables (cached), then runs one workload in a fresh JVM pinned to
local[nproc], launched directly on the classpath. The JVM writes a full
result file under the build directory; this script prints, as the last
line of stdout, one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json, or with `--trace 1`
its per-layer metrics). It exits non-zero when an output check fails.

With `--trace 1` the per-layer metrics in UNTRACED, the end-to-end
numbers the tracer would slow down, come from an untraced run of the same
workload: the same seed's result in the build directory if there is one,
else the latest; if there is none, an untraced run is made first.

Extra options: `--fast` (self-test size), `--corrupt QUERY` (expect a
wrong hash for QUERY).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing but results under the build directory
import build  # noqa: E402

DATA_SF = 0.01
FAST_SF = 0.001
JVM_TIMEOUT_S = 170
WORKLOAD_LAYERS = {
    "pmap": {"pmap", "jobtracker"},
    "driver-bound": {"queries", "plan", "codegen", "exec", "sources", "hygiene"},
    "exec-bound": {"queries", "plan", "codegen", "exec", "sources", "hygiene"},
    "stream": {"streaming", "generator"},
}
UNTRACED = {"pmap.call_ms_p50", "pmap.first_result_ms_p50", "pmap.skew_job_s",
            "streaming.ingest_docs_per_s", "streaming.ingest_batch_ms_p50",
            "streaming.hourly_events_per_s", "bench.peak_rss_mb"}
# Spark on JDK 17 outside spark-submit needs these (build.sbt passes the
# same list to forked runs and tests)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def data_dir(build_dir, sf):
    """The fixed query tables, generated once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as f:
        tag = f"sf{sf}-" + hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(build_dir, "data-" + tag)
    if not os.path.exists(os.path.join(out, "MANIFEST.json")):
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, gen, out, "--sf", str(sf)], check=True, stdout=sys.stderr)
    return out


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(a, trace, build_dir, classes, data):
    """One JVM run of the workload; returns (exit code, result or None)."""
    cores = nproc()
    run_id = f"{a.workload}-seed{a.seed}-trace{trace}" + ("-fast" if a.fast else "")
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    results = os.path.join(build_dir, "results")
    traces = os.path.join(build_dir, "traces")
    for d in (work, os.path.join(work, "tmp"), results, traces):
        os.makedirs(d, exist_ok=True)
    out_file = os.path.join(results, run_id + ".json")
    trace_file = os.path.join(traces, run_id + ".json")
    for p in (out_file, trace_file):
        if os.path.exists(p):
            os.remove(p)
    expected = os.path.join(HERE, "expected_fast.txt" if a.fast else "expected.txt")

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(trace), "--data", data, "--work", work,
        "--out", out_file, "--trace-out", trace_file, "--expected", expected]
    if a.fast:
        cmd.append("--fast")
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]

    load_before = os.getloadavg()[0]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    wall = time.time() - t0
    load_after = os.getloadavg()[0]
    shutil.rmtree(work, ignore_errors=True)

    if not os.path.exists(out_file):
        log(f"{run_id}: JVM exited {code} without a result")
        return code, None
    with open(out_file) as f:
        res = json.load(f)
    res["host"] = {"nproc": cores, "spark_cores": int(res["extra"].get("spark_cores", 0)),
                   "load1_before": load_before, "load1_after": load_after, "wall_s": wall,
                   "process_cpu_s": res["extra"].get("process_cpu_s")}
    with open(out_file, "w") as f:
        json.dump(res, f, indent=1)
    res["file"] = out_file
    return code, res


def untraced_base(a, build_dir):
    """The untraced result a traced run is compared with: the same seed's
    if this checkout has a correct one, else the latest correct one of the
    same workload and size."""
    results = os.path.join(build_dir, "results")
    suffix = "-fast" if a.fast else ""
    same = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0{suffix}.json")
    runs = sorted(glob.glob(os.path.join(results, f"{a.workload}-seed*-trace0{suffix}.json")),
                  key=os.path.getmtime)
    for path in ([same] if same in runs else []) + runs[::-1]:
        with open(path) as f:
            base = json.load(f)
        if base["correct"]:
            base["file"] = path
            return base
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fast", action="store_true")
    ap.add_argument("--corrupt")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not os.path.isabs(build_dir):
        build_dir = os.path.abspath(build_dir)
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(build_dir)
    data = data_dir(build_dir, FAST_SF if a.fast else DATA_SF)

    base = None
    if a.trace:
        base = untraced_base(a, build_dir)
        if base is None:
            log("no untraced run of this workload yet: running one first")
            code, base = run_jvm(a, 0, build_dir, classes, data)
            if base is None or code != 0:
                return 1
    code, res = run_jvm(a, a.trace, build_dir, classes, data)
    if res is None:
        return 1

    # the result line: exactly the metrics BENCHMARK.json names for this mode
    section = "per_layer" if a.trace else "end_to_end"
    measured = res[section]
    if base is not None:
        overhead(base, res)
        # headline numbers the tracer would slow down come from the untraced run
        measured = dict(measured, **{k: base["per_layer"][k] for k in UNTRACED if k in base["per_layer"]})
    metrics, missing = {}, []
    for m in spec[section]:
        name = m["name"]
        if name in measured:
            v = measured[name]["value"]
            metrics[name] = {"value": v, "unit": m["unit"]}
            if measured[name]["unit"] != m["unit"] or v is None:
                missing.append(f"{name} (unit {measured[name]['unit']}, value {v})")
        elif a.trace and name.split(".")[0] not in WORKLOAD_LAYERS[a.workload] | {"bench"}:
            metrics[name] = {"value": 0, "unit": m["unit"]}  # layer not used by this workload
        else:
            missing.append(name)
    with open(res.pop("file"), "w") as f:
        json.dump(res, f, indent=1)
    line = {"correct": bool(res["correct"]) and not missing, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
    for p in res.get("failures", []):
        log(f"check failed: {p}")
    if missing:
        log(f"metrics missing or malformed: {', '.join(missing)}")
    print(json.dumps(line))
    return 0 if (code == 0 and line["correct"]) else 1


def overhead(base, res):
    """Tracing overhead: this traced run's end-to-end metrics against the
    untraced run its headline numbers come from."""
    name = os.path.basename(base["file"])
    ratio = {k: v["value"] / base["end_to_end"][k]["value"] - 1 for k, v in res["end_to_end"].items()
             if k in base["end_to_end"] and v["value"] and base["end_to_end"][k]["value"]}
    res["trace_overhead"] = {"against": name, "share": ratio}
    res["untraced_from"] = {"file": name, "metrics": sorted(UNTRACED)}
    log(f"trace overhead vs {name}: " + ", ".join(f"{k} {v:+.1%}" for k, v in ratio.items()))


if __name__ == "__main__":
    sys.exit(main())
