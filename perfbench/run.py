#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload dashboard|collector|corpus \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the engine together
with the benchmark code (`perfbench/build.sbt`, sbt offline) and caches
the classpath; later runs reuse it while the sources are unchanged. Each
run generates its inputs from the seed into a fresh work dir under
`perfbench/.work/`, runs one JVM with one warm `local[4]` session, checks
the outputs and prints every metric by name and unit. The last line is
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer metrics).

`--smoke` shrinks every input to sf0.001 (the benchmark's own tests).
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CORES = 4
JVM_TIMEOUT_S = 150

# input sizes: SF for the star schema and events, DOC_SF for the base
# corpus, DOC_REPS replicas of it (see gen.py)
WORKLOADS = {
    "dashboard": dict(sf=0.01, doc_sf=0.01, doc_reps=1),
    "collector": dict(sf=0.001, doc_sf=0.001, doc_reps=1),
    "corpus": dict(sf=0.001, doc_sf=0.1, doc_reps=2),
}
SMOKE_SIZE = dict(sf=0.001, doc_sf=0.001, doc_reps=1)
# the tail percentile each workload reports: the highest one with at
# least 10 samples beyond it at the usual sample count, fixed so that a
# faster program is compared at the same percentile
TAIL_PCT = {"dashboard": 85, "collector": 100, "corpus": 100}
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + benchmark when the sources changed; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources (src/main/scala) not found: run from the repository root")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BENCH, "target", "bench-classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    repos = os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} -Dsbt.offline=true "
        f"-Xmx3g {os.environ.get('SBT_OPTS', '')}"))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Compile/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and "scala-2.13/classes" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die(f"build failed (sbt exit {r.returncode})")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, fh)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def cpu_times():
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v  # user nice system idle iowait irq softirq steal ...


def host_context(cpu0, cpu1, gc_ms):
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8]) or 1
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"nproc": len(os.sched_getaffinity(0)), "cores_used": CORES,
            "steal_share": d[7] / total, "iowait_share": d[4] / total,
            "loadavg": "/".join(load), "gc_ms_timed": gc_ms}


def oracle_check(data, dump_dir, oracle, names):
    """Hash-check each entry's set-up result against its DuckDB SQL, with
    the parity rules of tools/local_verify.py. Returns {name: error}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import local_verify
    con = local_verify.connect(data, threads=CORES)
    bad = {}
    for name in names:
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        _, line, rec, is_bad = local_verify.check_one(con, oracle, dump_dir, name)
        if is_bad:
            bad[name] = f"oracle mismatch: {rec['err']}"
    return bad


def percentile(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def summarize(ops, wall_s):
    ms = [o["ms"] for o in ops]
    return {"op_p50_ms": statistics.median(ms),
            "ops_per_s": len(ops) / wall_s,
            "rows_per_s": sum(o["work"] for o in ops if o["ok"]) / (sum(ms) / 1000.0)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    classpath = build()
    sys.path.insert(0, BENCH)
    import gen

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        size = SMOKE_SIZE if a.smoke else WORKLOADS[a.workload]
        data = os.path.join(work, "data")
        t0 = time.time()
        gen.main(data, a.seed, **size)
        out = os.path.join(work, "result.json")
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               # a fixed-size heap with a fixed young generation under the
               # parallel collector: the pages the JVM touches, and so its
               # peak RSS, then depend on the program and not on when G1
               # decides to grow the heap
               ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g",
                "-Xmn768m", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                f"-Dderby.stream.error.file={work}/derby.log", "-Dspark.ui.enabled=false",
                "-cp", classpath, "graftbench.Main",
                "--workload", a.workload, "--data", data, "--work", work, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
                "--out", out])
        t1 = time.time()
        cpu0 = cpu_times()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        cpu1 = cpu_times()
        t2 = time.time()
        with open(os.path.join(work, "jvm.log")) as fh:
            jvm_log = fh.read()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(jvm_log[-6000:])
            die(f"benchmark JVM failed (exit {rc})")
        sys.stderr.writelines(l + "\n" for l in jvm_log.splitlines() if l.startswith("[perfbench"))
        with open(out) as fh:
            res = json.load(fh)
        if a.trace:  # the spans outlive the run's work dir
            shutil.move(os.path.join(work, "spans.jsonl"),
                        os.path.join(BENCH, ".work", f"spans-{a.workload}-{a.seed}.jsonl"))
        report(a, res, data, host_context(cpu0, cpu1, res["context"]["gc_ms_timed"]))
        print(f"inputs {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, data, host):
    ctx = res["context"]
    ops = res["ops"]
    # an entry whose checked result disagrees with the oracle fails every op
    if "oracle_sql" in ctx:
        names = sorted({o["name"] for o in ops} | set(ctx["expected_rows"]) | set(ctx["setup_errors"]))
        bad = oracle_check(data, ctx["dump_dir"], ctx["oracle_sql"], names)
        for n, e in ctx["setup_errors"].items():
            bad[n] = f"set-up call failed: {e}"
        for o in ops:
            if o["name"] in bad:
                o["ok"] = False
                o["err"] = "; ".join(x for x in (o["err"], bad[o["name"]]) if x)
    timed = [o for o in ops if o["phase"] == "timed"]
    all_timed = [o for o in ops if o["phase"] in ("timed", "traced")]
    failed = [o for o in all_timed if not o["ok"]]

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}"
          f"{' smoke' if a.smoke else ''}")
    flag = "  HIGH STEAL: timings carry hypervisor noise" if host["steal_share"] > 0.05 else ""
    print(f"host: nproc={host['nproc']} cores_used={host['cores_used']} "
          f"steal={100 * host['steal_share']:.1f}% iowait={100 * host['iowait_share']:.1f}% "
          f"load={host['loadavg']} gc_ms_timed={host['gc_ms_timed']}{flag}")

    base = summarize(timed, res["phase_s"]["timed"])
    pct = TAIL_PCT[a.workload]
    ms = [o["ms"] for o in timed]
    beyond = sum(1 for x in ms if x > percentile(ms, pct))
    e2e = {"setup_s": res["setup_s"], **base,
           "op_tail_ms": percentile(ms, pct),
           "cpu_ms_per_op": 1000.0 * res["phase_cpu_s"]["timed"] / len(timed),
           "ok_share": 1.0 - len([o for o in timed if not o["ok"]]) / len(timed),
           "peak_rss_mb": ctx["peak_rss_mb"]}
    for name, unit in END_TO_END:
        note = ""
        if name == "op_tail_ms":
            note = f"  (p{pct} of {len(ms)} samples, {beyond} beyond)"
        if name == "ok_share":
            note = f"  (failed_share {1.0 - e2e[name]:.4f} ratio)"
        print(f"{name:34s} {e2e[name]:14.4f} {unit}{note}")
    by_name = {}
    for o in timed:
        by_name.setdefault(o["name"] if a.workload != "collector" else "round", []).append(o["ms"])
    print("ops: " + ", ".join(f"{n} x{len(v)} p50 {statistics.median(v):.0f} ms"
                              for n, v in sorted(by_name.items())))
    for o in failed:
        print(f"FAILED {o['phase']} op {o['name']}: {o['err']}")

    if a.trace:
        metrics = layer_metrics(a.workload, res, base)
        for name, (v, unit) in metrics.items():
            print(f"{name:34s} {v:14.4f} {unit}")
    else:
        metrics = {n: (e2e[n], u) for n, u in END_TO_END}
    print(json.dumps({"correct": not failed, "attempted": len(all_timed), "failed": len(failed),
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}))


def layer_metrics(workload, res, base):
    """Per-op values of the traced quarters' counters, in BENCHMARK.json order."""
    traced = [o for o in res["ops"] if o["phase"] == "traced"]
    wall = res["phase_s"]["traced"]
    lay = dict(res["layers"])
    lay["entry.build_ms"] = lay.get("span.entry.build_ms", 0.0)
    lay["checkpoints.release_ms"] = lay.get("span.checkpoints.release_ms", 0.0)
    per_op = {k: v / len(traced) for k, v in lay.items()
              if not k.startswith("functions.") and k != "sources.bytes_per_sample"}
    per_op["exec.busy_share"] = lay.get("exec.task_ms", 0.0) / (wall * 1000.0 * res["cores"])
    for k in ("functions.shingle3_rows_per_s", "functions.dot_rows_per_s",
              "functions.simhash_rows_per_s", "functions.snappy_mb_per_s",
              "sources.bytes_per_sample"):
        per_op[k] = lay.get(k, 0.0)
    tr = summarize(traced, wall)
    ms = [o["ms"] for o in traced]
    untraced_tail = percentile([o["ms"] for o in res["ops"] if o["phase"] == "timed"],
                               TAIL_PCT[workload])
    per_op["tracing.overhead_pct"] = 100.0 * (tr["op_p50_ms"] / base["op_p50_ms"] - 1)
    per_op["tracing.overhead_pct.op_tail_ms"] = 100.0 * (
        percentile(ms, TAIL_PCT[workload]) / untraced_tail - 1)
    per_op["tracing.overhead_pct.ops_per_s"] = 100.0 * (1 - tr["ops_per_s"] / base["ops_per_s"])
    per_op["tracing.overhead_pct.rows_per_s"] = 100.0 * (1 - tr["rows_per_s"] / base["rows_per_s"])
    return {n: (per_op.get(n, 0.0), u) for n, u in PER_LAYER}


if __name__ == "__main__":
    main()
