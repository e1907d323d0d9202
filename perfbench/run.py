#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness if a source changed (perfbench/build.py),
generates the input tables once per checkout (perfbench/gen_data.py), then
starts one harness JVM from cold. It sets up, then runs the workload's
queries in a closed loop with one caller, each pass in an order drawn from
--seed, until --seconds have passed. The warm-pass results are then
checked against the DuckDB oracle (perfbench/check.py).

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones of the traced run. Everything else the
run saw (the Spark conf, heap, nproc, load, per-query latencies, check
results) is written to .bench_build/perfbench/records/.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen_data  # noqa: E402

OUT = build.OUT
MANIFEST = os.path.join(HERE, "workloads.txt")
# a run must end within this many seconds of its build
RUN_BUDGET_S = 170

# end-to-end metrics printed by every run; the JSON line carries the ones
# BENCHMARK.json lists (E2E_JSON), error_rate travels as attempted/failed
E2E = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
       ("cpu_s", "s"), ("resident_mb", "MiB"), ("error_rate", "ratio")]
E2E_JSON = ["setup_s", "wall_s", "query_p50_s", "query_p90_s", "cpu_s"]
# the operator modules some workload runs a query of (ReleaseOps and
# GraphOps have none, see README.md)
MODULES = ["Relational", "CleanerOps", "TextOps", "DedupOps", "SimilarityOps",
           "WindowingOps", "MultimodalOps", "StatsOps", "ExtendedOps", "ChunkingOps",
           "Sampling", "GeoOps", "ProfileOps", "OsmOps", "FormatOps"]
PER_LAYER = [
    ("Tables.scan_s", "s"), ("Tables.input_bytes", "bytes"),
    ("operators.define_s", "s"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.codegen_compile_s", "s"), ("plans.codegen_classes", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_wait_s", "s"), ("exec.spill_bytes", "bytes"),
    ("exec.peak_exec_mem_bytes", "bytes"), ("exec.input_rows", "count"),
    ("exec.output_rows", "count"), ("exec.rows_in_per_row_out", "ratio"),
    ("exec.slot_util", "ratio"), ("exec.driver_only_s", "s"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("streaming.input_rows", "count"),
    ("storage.mem_bytes", "bytes"), ("storage.disk_bytes", "bytes"),
    ("storage.rdds", "count"), ("storage.growth_bytes", "bytes"),
    ("trace.overhead_s", "s"),
] + [(f"{m}.{k}", "s") for m in MODULES for k in ("define_s", "plan_s", "exec_s")]

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """The Tier-1 SPARK_DRIVER_MEM rule: half of RAM in GiB, within 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def manifest(path=MANIFEST):
    """{workload: [(query name, anchor reason or None)]} from workloads.txt.

    A [name] line opens a workload; every other non-blank line names one
    query of SparkEntry.allQueries (the JVM checks that it exists), and
    "# anchor: <reason>" after it marks a query the roadmap names."""
    out, cur = {}, None
    with open(path) as f:
        for line in f:
            name, _, comment = (x.strip() for x in line.partition("#"))
            anchor = comment[len("anchor:"):].strip() if comment.startswith("anchor:") else None
            if name.startswith("[") and name.endswith("]"):
                cur = out.setdefault(name[1:-1], [])
            elif name:
                if cur is None:
                    raise SystemExit(f"[perfbench] {path}: {name} precedes any [workload]")
                cur.append((name, anchor))
    return out


def manifest_problems(workloads):
    """Names listed more than once, and workloads that list no query."""
    seen, out = {}, []
    for w, entries in workloads.items():
        if not entries:
            out.append(f"{w} lists no query")
        for name, _ in entries:
            if name in seen:
                out.append(f"{name} is listed more than once ({seen[name]}, {w})")
            seen.setdefault(name, w)
    return out


def ensure_data():
    data = os.path.join(OUT, "data", f"seed{gen_data.DATA_SEED}")
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        gen_data.generate(data)
        open(os.path.join(data, ".done"), "w").close()
    return data


def jvm(cp, opts, out_dir, deadline):
    """Run the harness once and return its result.json."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "tmp"))
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.PerfBench", "--mode", "run", "--out", out_dir,
              "--t0-ms", repr(time.time() * 1000)]
           + [str(x) for kv in opts.items() for x in ("--" + kv[0], kv[1])])
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=out_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"[perfbench] the JVM ran past the run budget; log: {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"[perfbench] the JVM exited {rc}; log: {log}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def quantile(xs, q):
    """The q-quantile of xs, interpolating linearly between ranks."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load = loadavg()
    workloads = manifest()
    problems = manifest_problems(workloads)
    if problems:
        raise SystemExit("[perfbench] workloads.txt: " + "; ".join(problems))
    if a.workload not in workloads:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}; "
                         f"known: {', '.join(workloads)}")
    names = [n for n, _ in workloads[a.workload]]
    cp, _ = build.build()
    cpus = nproc()
    opts = {"workload": a.workload, "queries": ",".join(names), "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "data": ensure_data(), "cpus": cpus}
    deadline = time.time() + RUN_BUDGET_S
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    res = jvm(cp, opts, os.path.join(run_dir, "run"), deadline)

    with open(os.path.join(run_dir, "run", "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    checks = check.check(ROOT, opts["data"], f"gen{gen_data.DATA_SEED}",
                         os.path.join(run_dir, "run", "dump"), oracle_sql, names,
                         os.path.join(OUT, "oracle"))
    wrong = {n for n, why in checks.items() if why is not None}

    execs = [e for e in res["executions"] if not e["traced"]]
    passes = [p for p in res["passes"] if not p["traced"]]
    attempted = len(res["executions"])
    failed = sum(1 for e in res["executions"] if not e["ok"] or e["name"] in wrong)
    lat = [e["s"] for e in execs if e["ok"]]
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": quantile(lat, 0.5) if lat else float("nan"),
        "query_p90_s": quantile(lat, 0.9) if lat else float("nan"),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "resident_mb": res["resident_bytes"] / 2 ** 20,
        "error_rate": failed / attempted,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "nproc": cpus, "heap": heap(), "loadavg_at_start": load,
        "spark_version": res["spark_version"], "spark_conf": res["spark_conf"],
        "query_samples": len(lat), "passes": res["passes"], "end_to_end": e2e,
        "check": checks, "warm_s": res["warm_s"], "executions": res["executions"],
        "per_layer": res.get("per_layer"),
    }
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    rec_path = os.path.join(OUT, "records",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {a.workload}: {len(names)} queries, {len(res['passes'])} passes, "
          f"local[{cpus}], heap {heap()}, loadavg {load}")
    for name, unit in E2E:
        print(f"  {name:<14} {e2e[name]:.6g} {unit}")
    print(f"  query_p50_s and query_p90_s are over {len(lat)} executions")
    print(f"  output check: {len(names) - len(wrong)}/{len(names)} match the DuckDB oracle")
    for n in sorted(wrong):
        print(f"    MISMATCH {n}: {checks[n]}")
    if a.trace:
        layer = res["per_layer"]
        for name, unit in PER_LAYER:
            print(f"  {name:<32} {layer[name]:.6g} {unit}")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E if n in E2E_JSON}
    print(f"  record: {rec_path}")
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
