#!/usr/bin/env python3
"""Layer benchmark: one command, end-to-end metrics from untraced runs and
per-layer metrics from a separate traced run.

    python3 layerbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 layerbench/run.py --smoke

Run it from the root of a checkout. The first run builds the harness and
the engine from source with sbt into .bench_build/ (later runs reuse the
build while the sources are unchanged). Each run then:
  1. generates the workload's inputs from the seed three times, timing
     each (the generated files live under .bench_build/run/);
  2. starts the JVM side (graft.bench.LayerBench), which starts the
     session, warms up, times passes (at least the workload's
     MIN_PASSES, and for --seconds) and writes its records;
  3. checks the first timed pass's outputs outside the timed window;
  4. prints one line per metric, then the result as one JSON line.
See layerbench/README.md for the workloads and the metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

WORKLOADS = ["medallion_etl", "corpus_dedup", "stream_gates"]
# timed passes a run makes at least; the end-to-end metrics are medians
# over them
MIN_PASSES = {"medallion_etl": 3, "corpus_dedup": 3, "stream_gates": 4}
SETUPS = 3
# the driver's heap, fixed (-Xms = -Xmx): when G1 could resize it, the
# first pass's full collections shrank it and the next pass's wall spread
# 0.23 across seeds on medallion_etl, against 0.05 with a fixed heap
HEAP = "2g"
RUN_LIMIT_S = 170
# The JIT compiler's threads live for the whole run, so the CPU time the
# JVM side leaves out for them (see LayerBench.engineCpuNs) only grows:
# when the JVM could stop idle compiler threads, a pass lost their CPU time
# and read up to 3x too high.
JVM_FLAGS = ["-XX:-UseDynamicNumberOfCompilerThreads"]
# input sizes: the benchmark size, and the smallest size the smoke mode uses
SIZES = {
    "bench": {"banks": 3000, "docs": 250, "copies": 4},
    "smoke": {"banks": 300, "docs": 200, "copies": 2},
}
E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "wall_s": "s", "rows_per_s": "1/s",
             "op_p50_ms": "ms", "op_tail_ms": "ms", "peak_heap_mb": "MB",
             "write_amp": "ratio"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.startswith("io.bytes"):
        return "bytes"
    if name in ("catalog.fixed_share", "sched.core_busy", "trace.overhead",
                "ops.minhash.pair_yield"):
        return "ratio"
    return "count"


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt unless the classpath of an identical source tree is
    already recorded; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("layerbench: building (sbt compile)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and
             not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        log(proc.stdout[-4000:])
        raise SystemExit("layerbench: build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def generate(workload, seed, size, work):
    """Write the workload's inputs; return (input dir, manifest)."""
    import gen
    s = SIZES[size]
    if workload == "medallion_etl":
        d = os.path.join(work, "landing")
        return d, gen.landing(d, seed, s["banks"])
    if workload == "corpus_dedup":
        d = os.path.join(work, "corpus")
        return d, gen.corpus(d, seed, s["docs"], s["copies"])
    d = os.path.join(work, "tables")
    return d, gen.tables(d, seed)


# ---------------------------------------------------------------- metrics

def run(args, root):
    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)
    t_start = time.monotonic()
    work = os.path.join(build_dir, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    gen_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        input_dir, manifest = generate(args.workload, args.seed, args.size, work)
        gen_s.append(time.perf_counter() - t0)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS + ADD_OPENS +
           [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graft.bench.LayerBench",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--min-passes", str(MIN_PASSES[args.workload]),
            "--trace", str(args.trace), "--input", input_dir, "--work", work,
            "--gen-s", ",".join(f"{g:.6f}" for g in gen_s)])
    left = RUN_LIMIT_S - (time.monotonic() - t_start)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        try:
            proc = subprocess.run(cmd, env=env, stdout=jlog,
                                  stderr=subprocess.STDOUT, timeout=left)
        except subprocess.TimeoutExpired:
            raise SystemExit("layerbench: JVM side timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"layerbench: JVM side exited {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    # ---- correctness, outside the timed window
    import check
    outputs, oracles = check.load_outputs(os.path.join(work, "outputs"))
    if args.workload == "stream_gates":
        wrong = check.check_catalog(outputs, oracles, input_dir, root)
    elif args.workload == "medallion_etl":
        wrong = check.check_medallion(outputs, manifest)
    else:
        # IVF queries and k, as CorpusDedup sets them
        wrong = check.check_corpus(outputs, input_dir, 50, 10)
    ops = res["ops"]
    for o in ops:
        if o["ok"] and wrong.get(o["name"]):
            o["ok"], o["error"] = False, "wrong output: " + wrong[o["name"]]
    failed = [o for o in ops if not o["ok"]]
    for o in failed[:20]:
        log(f"FAILED {o['name']} (pass {o['pass']}): {o['error'][:400]}")

    # ---- metrics: medians over the untraced passes
    untraced = {p["index"] for p in res["passes"] if not p["traced"]}
    passes = [p for p in res["passes"] if p["index"] in untraced]
    by_op = {}
    for o in ops:
        if o["pass"] in untraced:
            by_op.setdefault(o["name"], []).append(o["seconds"] * 1000)
    op_ms = {n: statistics.median(v) for n, v in by_op.items()}
    slowest = max(op_ms, key=op_ms.get)
    wall = statistics.median(p["wall_s"] for p in passes)
    fail_ratio = len(failed) / len(ops)
    heap_mb = res["heap_max_mb"]
    print(f"layerbench workload={args.workload} seed={args.seed} "
          f"cpus={res['cpus']} trace={args.trace} size={args.size}")
    print(f"input rows={manifest['rows']} bytes={manifest['bytes']} "
          f"driver_heap_mb={heap_mb:.0f} "
          f"input_to_heap={manifest['bytes'] / (heap_mb * 1048576):.4f}")
    print(f"passes={len(passes)} traced_passes={len(res['passes']) - len(passes)} "
          f"ops_attempted={len(ops)} failed={len(failed)} "
          f"fail_ratio={fail_ratio:.4f}")
    print(f"op_tail_ms is {slowest}, the slowest of {len(op_ms)} ops "
          f"(median of {len(by_op[slowest])} passes)")
    e2e = {
        "setup_s": res["setup_s"],
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "wall_s": wall,
        "rows_per_s": manifest["rows"] / wall,
        "op_p50_ms": statistics.median(op_ms.values()),
        "op_tail_ms": op_ms[slowest],
        "peak_heap_mb": res["peak_heap_mb"],
        "write_amp": statistics.median(p["storage_bytes"] for p in passes)
        / manifest["bytes"],
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["per_layer"].items()}
        print(f"tracing overhead {res['per_layer']['trace.overhead'] * 100:.1f}% "
              f"(traced vs untraced pass wall); spans in {work}/trace.json")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    for k, m in metrics.items():
        print(f"metric {k} {m['value']} {m['unit']}")
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


def smoke(root):
    """Every workload once at the smallest size, untraced and traced;
    every metric BENCHMARK.json names must be printed with its unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            a = argparse.Namespace(workload=w, seed=1, seconds=0,
                                   trace=trace, size="smoke")
            res = run(a, root)
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} "
                                    f"printed as {got}")
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: "
                                f"{res['failed']} of {res['attempted']} ops failed")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("SMOKE " + ("FAIL" if problems else "PASS"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    args.size = "bench"
    root = os.getcwd()
    engine = os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not os.path.exists(engine) or not os.path.exists(
            os.path.join(root, "tools", "check_correctness.py")):
        log("layerbench: no engine sources here; run from the root of a checkout")
        return 2
    if args.smoke:
        return smoke(root)
    if not args.workload:
        ap.error("--workload is required")
    result = run(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
