"""Repository benchmark: one workload run, one JVM, Spark local[nproc].

    python3 perfbench/run.py --workload transcripts_encode --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload closed-loop for --seconds, checks every output and prints one
line per metric, then, as the last line, a JSON object with `correct`,
`attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric (from spans of the
traced requests) with --trace 1.
Exits non-zero when any check fails or the run cannot complete.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = tuple(metrics.WORKLOAD_OPS)
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
DEADLINE_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def mem_gb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 2**20, 1)
    except OSError:
        pass
    return None


def run_jvm(classes, args, work, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # Also on SIGTERM (see main) or any other way out: the JVM
            # never outlives this process.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(args, res, load_start, load_end):
    ops, setup, facts = res["ops"], res["setup"], res["facts"]
    with open(SPEC) as f:
        spec = json.load(f)
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("input: " + " ".join(f"{k}={fmt(facts[k]) if isinstance(facts[k], float) else facts[k]}"
                               for k in ("turns", "raw_mb", "file_mb", "files", "lookup_keys")))
    print(f"host: nproc={facts['nproc']} mem_gb={mem_gb()} jvm={facts['jvm']} "
          f"spark={facts['spark']} python={platform.python_version()} "
          f"load_start={load_start:.2f} load_end={load_end:.2f}")
    reps = " ".join(f"{r:.3f}" for r in setup["reps_s"])
    print(f"setup_s = {setup['setup_s']:.4f} s (session {setup['session_s']:.3f} s + median "
          f"of set-up reps [{reps}] s + warm-up {setup['warmup_s']:.3f} s)")
    failed = metrics.failures(ops)
    n_failed = sum(not metrics.op_ok(o) for o in ops)
    out = {"setup_s": (setup["setup_s"], "s")}
    phases = ("untraced", "traced") if args.trace else ("measure",)
    for phase in phases:
        pops = [o for o in ops if o["phase"] == phase]
        head = metrics.headline(pops, facts)
        for name, (v, unit, note) in {**head, **metrics.workload_metrics(args.workload, pops)}.items():
            print(f"{name} = {fmt(v)} {unit} ({note}{', ' + phase if args.trace else ''})")
        if phase == "measure":
            out.update({k: (v, u) for k, (v, u, _) in head.items()})
    print(f"error_rate = {n_failed / len(ops):.6g} fraction ({n_failed} of {len(ops)} "
          f"operations failed, set-up and warm-up included)")
    for line in failed:
        print("FAILED: " + line)
    if args.trace:
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        traced = [o for o in ops if o["phase"] == "traced" and o["kind"] != "replay"]
        print(f"spans: {len(res['spans'])}")
        for name, (v, unit) in metrics.workload_layer(
                args.workload, metrics.SpanIndex(res["spans"]), traced).items():
            print(f"{name} = {fmt(v)} {unit}")
        out = metrics.per_layer(res["spans"], ops, facts, better)
        for name, (v, unit) in out.items():
            print(f"{name} = {fmt(v)} {unit}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    wrong = [m["name"] for m in wanted if out.get(m["name"], (None, None))[0] is None
             or out[m["name"]][1] != m["unit"]]
    if wrong:
        raise ValueError("no value in the declared unit for " + ", ".join(wrong))
    result = {
        "correct": n_failed == 0,
        "attempted": len(ops),
        "failed": n_failed,
        "metrics": {m["name"]: {"value": out[m["name"]][0], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return n_failed == 0


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S
    work = os.path.join(build.build_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start = os.getloadavg()[0]
    try:
        res = run_jvm(classes, args, work, deadline)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        ok = report(args, res, load_start, os.getloadavg()[0])
    except ValueError as e:
        print(f"cannot report: {e}", file=sys.stderr)
        return 1
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
