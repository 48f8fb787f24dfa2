#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload per run, end to end.

    python3 perfbench/run.py --workload topic_drain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds graft and the harness
with sbt (offline); later runs reuse the build while the sources are
unchanged. A run generates its seeded inputs (cached on disk), starts one
JVM that sets up, warms up and times the workload's op, checks every
output, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer ones instead of the
end-to-end ones. --smoke runs every workload on tiny inputs, one op each,
with all checks.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["topic_drain", "corpus_clean", "ann_serve", "knn_graph"]
# Workloads without timed runs of their own (README: run budget) are traced
# inside a timed workload's traced run, split so each stays in its deadline.
UNTIMED_TRACED = {"topic_drain": ["corpus_clean"], "ann_serve": ["knn_graph"]}
# the JVM must end this long after the build; checks follow within 180 s
DEADLINE_S = 160.0
BUILD_TIMEOUT_S = 850.0
HEAP = "2g"

# Per-run loop settings: WARM_OPS untimed ops (the first of them the cold
# one), then at least MIN_OPS timed ops. README: warm-up.
WARM_OPS = 5
MIN_OPS = 3

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build compiles, to decide whether to rebuild."""
    h = hashlib.sha1()
    paths = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            paths += [os.path.join(d, f) for f in sorted(fs)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compiles graft and the harness; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(HERE, "work", "build.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbenchClasspath"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed to run: {e}")
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def cores():
    """Spark task slots: two, leaving the machine's other cores to the JIT
    compiler and GC threads so that their work does not queue behind tasks."""
    return max(1, min(2, os.cpu_count() or 1))


def run_jvm(cp, workload, meta, inp, work, seconds, trace, smoke, deadline, extra):
    out = os.path.join(work, "out")
    for d in ("out", "warehouse", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    args = {
        "workload": workload, "input": inp, "work": work, "result": result_path,
        "cores": cores(), "seconds": seconds, "trace": 1 if trace else 0,
        "warm-ops": 0 if smoke else WARM_OPS, "min-ops": 1 if smoke else MIN_OPS,
    }
    args.update(meta)
    args.update(extra)
    # -Xmx is only a ceiling. The serial collector sizes the heap from the
    # live data after each collection (free-ratio rule), so resident memory
    # follows what the program holds; G1 sizes it by GC time, which moved
    # peak RSS by a fifth between runs on a busy host.
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseSerialGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload}: the JVM did not finish in time (log: {log_path})")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: the JVM exited with code {proc.returncode}")
    with open(result_path) as f:
        res = json.load(f)
    res.update(meta)
    res["input"] = inp
    with open(result_path, "w") as f:
        json.dump(res, f)
    return res, out


def end_to_end(res):
    timed = res["timed"]
    walls = [s["wall_s"] for s in timed]
    first = (res["warm"] or timed)[0]["wall_s"]
    m = {
        "setup_s": (res["setup_s"], "s"),
        "first_op_s": (first, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "items_per_s": (res["items"] * len(walls) / sum(walls), "1/s"),
        "op_cpu_s": (statistics.median(s["cpu_s"] for s in timed), "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_units(name):
    m = name.rsplit(".", 1)[1]
    if m == "rows_per_s":
        return "1/s"
    if m == "pairs_per_candidate":
        return "ratio"
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    return "count"


def input_dir(workload, seed, mode):
    """The input cache of (workload, seed, mode), keyed by its size too."""
    size = "-".join(f"{k}{v}" for k, v in sorted(gen.SIZES[workload][mode].items()))
    return os.path.join(HERE, "work", "inputs", f"{workload}-{seed}-{mode}-{size}")


def one(cp, workload, seed, seconds, trace, smoke, deadline):
    mode = "smoke" if smoke else "bench"
    t0 = time.monotonic()
    inp = input_dir(workload, seed, mode)
    meta = gen.generate(workload, seed, mode, inp)
    work = os.path.join(HERE, "work", "runs", f"{workload}-{mode}")
    os.makedirs(work, exist_ok=True)
    extra = {}
    if trace and UNTIMED_TRACED.get(workload):
        also = []
        for w in UNTIMED_TRACED[workload]:
            win = input_dir(w, seed, mode)
            also.append(f"{w}|{win}|{gen.generate(w, seed, mode, win)['n']}")
        extra = {"also": ";".join(also)}
    res, out = run_jvm(cp, workload, meta, inp, work, seconds, trace, smoke, deadline, extra)
    t1 = time.monotonic()
    try:
        errs = checks.check(workload, inp, out, res, work)
    except Exception as e:  # a missing or unreadable sink is a failed check
        errs = [f"check raised {type(e).__name__}: {e}"]
    print(f"perfbench: {workload}: inputs and JVMs {t1 - t0:.1f} s, checks "
          f"{time.monotonic() - t1:.1f} s", file=sys.stderr)
    for e in errs[:20]:
        print(f"perfbench: {workload}: CHECK FAILED: {e}", file=sys.stderr)
    ok = not errs and bool(res["timed"])
    if trace:
        metrics = {k: {"value": v, "unit": layer_units(k)} for k, v in res["layers"].items()}
    else:
        metrics = end_to_end(res) if res["timed"] else {}
    return {"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload on tiny inputs, one op each, all checks")
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/ not found)")
    if not a.smoke and not a.workload:
        fail("--workload is required unless --smoke is given")
    cp = build(root)
    if a.smoke:
        total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            r = one(cp, w, a.seed, 0.0, bool(a.trace), True,
                    time.monotonic() + DEADLINE_S)
            print(json.dumps({"workload": w, **r}))
            total["correct"] &= r["correct"]
            total["attempted"] += r["attempted"]
            total["failed"] += r["failed"]
        print(json.dumps(total))
        return
    deadline = time.monotonic() + DEADLINE_S
    r = one(cp, a.workload, a.seed, a.seconds, bool(a.trace), False, deadline)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
