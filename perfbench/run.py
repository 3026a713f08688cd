#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source (sbt, offline). Each run prints every metric by name
with its unit, checks every answer, and ends with one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md."""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected_gates.tsv")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
WORK = os.path.join(HERE, ".work")

JVM_HEAP = "3g"
# One warm pass per this many seconds of --seconds, and at least one. A
# warm pass takes about 7 s on a 4-core VM; the count depends on the
# arguments only, so a faster commit does not measure more passes.
PASS_SECONDS = 10
JVM_TIMEOUT_S = 170

# (name, unit) of the end-to-end metrics an untraced run reports
E2E = [
    ("setup_s", "s"), ("cold_s", "s"), ("ops_per_s", "1/s"),
    ("latency_p50_s", "s"), ("cpu_s", "s"),
]

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Digest of every input of the build: the harness and the engine."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), ENGINE_SRC]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the engine's sources unless the last
    build was of the same sources. Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not "
                 "found next to perfbench/; run from a full checkout")
    want = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == want:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    log("building harness and engine (sbt, offline)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(STAMP, "w") as f:
        f.write(want)
    with open(CLASSPATH) as c:
        return c.read().strip()


def warm_passes(seconds):
    return max(1, int(seconds // PASS_SECONDS))


def run_jvm(classpath, workload, seed, seconds, trace, record=False):
    """Write the ops file, run the harness once, return its raw record."""
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    ops = os.path.join(run_dir, "ops.tsv")
    expected = {} if record else workloads.read_expected(EXPECTED)
    with open(ops, "w") as f:
        f.write("\n".join(workloads.ops_lines(workload, seed, DATA,
                                              expected)) + "\n")
    out = os.path.join(run_dir, "raw.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Harness",
              "--ops", ops, "--data", DATA, "--work", run_dir, "--out", out,
              "--seed", str(seed),
              "--warm-passes", str(warm_passes(seconds)),
              "--trace", "1" if trace else "0",
              "--record", "1" if record else "0"])
    jvm_log = os.path.join(run_dir, "jvm.log")
    try:
        with open(jvm_log, "w") as lf:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               cwd=run_dir, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(out):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            sys.exit(f"perfbench: harness exited with {r.returncode}")
        with open(out) as f:
            return json.load(f)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: harness exceeded {JVM_TIMEOUT_S} s")
    finally:
        # keep the failure report, drop the bulky per-run data
        with open(jvm_log, errors="replace") as lf:
            failures = [l for l in lf if "[perfbench]" in l]
        sys.stderr.writelines(failures)
        shutil.rmtree(run_dir, ignore_errors=True)


def contention(raw):
    """Steal, other processes' CPU and I/O stall over the run, from the
    two /proc samples the harness took (recorded, never gating)."""
    a, b = raw["contention"][0], raw["contention"][-1]
    if not a["proc_stat"] or not b["proc_stat"]:
        return {}
    d = [y - x for x, y in zip(a["proc_stat"], b["proc_stat"])]
    total = sum(d)  # user nice system idle iowait irq softirq steal
    wall_s = (b["t_ms"] - a["t_ms"]) / 1e3
    n = raw["nproc"]
    busy = total - d[3] - d[4]
    own = (b["process_cpu_ns"] - a["process_cpu_ns"]) / 1e9
    out = {
        "window_s": wall_s,
        "steal_cores": d[7] / total * n if total else 0.0,
        "other_cpu_cores": max(0.0, (busy - d[7]) / total * n - own / wall_s)
        if total and wall_s else 0.0,
        "iowait_cores": d[4] / total * n if total else 0.0,
    }
    if a["io_psi_us"] >= 0 and b["io_psi_us"] >= 0 and wall_s:
        out["io_psi_some_frac"] = (b["io_psi_us"] - a["io_psi_us"]) \
            / (wall_s * 1e6)
    return out


def e2e(raw):
    """End-to-end metrics of an untraced run, plus the reported-only
    figures (tail and write latencies, failures) with sample counts.

    A pass's wall and CPU time are sums over its ops' timed windows.
    Warm figures pool every warm pass: latencies are the ops' warm
    executions, throughput is ops over their summed time, and CPU is the
    mean per pass."""
    warm = [p for p in raw["passes"] if p["warm"]]
    samples = raw["samples"]
    lat = [((s["end_ms"] - s["start_ms"]) / 1e3, s["write"])
           for s in samples if s["warm"]]
    reads = [t for t, w in lat if not w]
    writes = [t for t, w in lat if w]
    m = {
        "setup_s": stats.median([s["total_s"] for s in raw["setups"]]),
        "cold_s": raw["passes"][0]["wall_s"],
        "ops_per_s": sum(p["ops"] for p in warm)
        / sum(p["wall_s"] for p in warm),
        "latency_p50_s": stats.harrell_davis(reads, 0.5),
        "cpu_s": sum(p["cpu_s"] for p in warm) / len(warm),
    }
    failed = sum(1 for s in samples if not s["ok"])
    extra = {
        "latency_p90_s": stats.tail(reads, 0.9),
        "write_p50_s": stats.tail(writes, 0.5),
        "write_p90_s": stats.tail(writes, 0.9),
        "failed_frac": (stats.failed_frac(len(samples), failed),
                        len(samples)),
        "read_samples": len(reads),
    }
    return m, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", default=None,
                    help="write this commit's gate answers to FILE instead "
                         "of checking them")
    args = ap.parse_args()

    classpath = build()
    raw = run_jvm(classpath, args.workload, args.seed, args.seconds,
                  args.trace == 1, record=args.record is not None)
    samples = raw["samples"]
    failed_ops = sorted({s["op"] for s in samples if not s["ok"]})
    attempted, failed = len(samples), sum(1 for s in samples if not s["ok"])

    if args.record:
        with open(args.record, "w") as f:
            for name, v in sorted(raw["recorded"].items()):
                f.write(f"{name}\t{v['rows']}\t{v['hash']}\n")
        log(f"recorded {len(raw['recorded'])} gate answers to {args.record}")

    print(f"workload={args.workload} seed={args.seed} "
          f"trace={args.trace} nproc={raw['nproc']} slots={raw['slots']}")
    print("contention: " + json.dumps(
        {k: round(v, 4) for k, v in contention(raw).items()}))
    if args.trace == 0:
        metrics, extra = e2e(raw)
        units = dict(E2E)
        for name, value in metrics.items():
            print(f"  {name} = {value:.6g} {units[name]}")
        for name in ("latency_p90_s", "write_p50_s", "write_p90_s"):
            v, n = extra[name]
            shown = f"{v:.6g} s" if v is not None else \
                f"n/a (fewer than {stats.MIN_BEYOND} samples beyond it)"
            print(f"  {name} = {shown} (n={n})")
        frac, n = extra["failed_frac"]
        # which LRU memo entries, and the checkpoints they hold, survive
        # the run's last ops depends on the seeded order: a reported
        # figure, not a gated one
        print(f"  retained_heap_mb = {raw['retained_heap_mb']:.6g} MB")
        print(f"  failed_frac = {frac:.6g} ratio (n={n})"
              + (f" failing: {', '.join(failed_ops)}" if failed_ops else ""))
        print(f"  latency_p50_s over n={extra['read_samples']} warm reads")
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        metrics, summary = layers.summarize(raw)
        units = dict(layers.PER_LAYER)
        for name, _ in layers.PER_LAYER:
            print(f"  {name} = {metrics[name]:.6g} {units[name]}")
        os.makedirs(WORK, exist_ok=True)
        trace_file = os.path.join(
            WORK, f"trace_{args.workload}_{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": metrics, **summary,
                       "spans": raw["spans"], "jobs": raw["jobs"],
                       "stages": raw["stages"], "batches": raw["batches"]},
                      f)
        print("  self time per traced warm pass (s): " + json.dumps(
            {k: round(v, 4) for k, v in summary["self_time_s"].items()}))
        print(f"  trace: {os.path.relpath(trace_file, ROOT)}")
        out = {name: {"value": metrics[name], "unit": unit}
               for name, unit in layers.PER_LAYER}
    if failed_ops:
        print(f"  failing ops: {', '.join(failed_ops)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
