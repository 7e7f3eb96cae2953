#!/usr/bin/env python3
"""One benchmark run of one graft workload.

    python3 perfbench/run.py --workload text_dedup --seed 1 --seconds 6 \
        --trace 0 [--size full|smoke]

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are unchanged.

A run generates its inputs from the seed (gen.py), starts one JVM with
Spark local[3], sets up three or five times (the median is `setup_s`),
runs one warm-up round (process start to here is `cold_start_s`), then
whole rounds of the workload's operations until --seconds have passed
(at least one), then checks every output
against a computation made apart from the program (checks.py). The last
line of standard output is one JSON object: correct, attempted, failed
and the metrics. With --trace 1
the metrics are the per-layer ones, and the spans go to
.bench_out/trace-<workload>-s<seed>.json.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

WORKLOADS = ("text_dedup", "lakehouse_churn")
# Spark local[n]: one core fewer than the machine's (at most 4), so the
# driver thread, which is the critical path (task CPU is about 15 % of
# wall x cores), the JIT and the GC do not compete with the tasks
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
# set-ups per run; setup_s is their median (the first pays the JVM's
# cold start). text_dedup's set-up is short and noisy, so it takes more.
SETUPS = {"text_dedup": 5, "lakehouse_churn": 3}
JVM_TIMEOUT = 165  # a run must end within 180 s


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"),
             os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_home():
    """SPARK_HOME, or the first Spark installation (a `spark-submit` with
    a `jars` directory beside its `bin`) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation: set SPARK_HOME")


def build():
    """Compile engine + harness once per source state; return the
    classes directory."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not here")
    out = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "target", "scala-2.13", "classes")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(classes):
        return classes
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    home = os.path.expanduser("~")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={home}/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dgraftbench.target={os.path.join(out, 'target')}",
           "compile"]
    with open(os.path.join(out, "build.log"), "w") as log:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=log,
                           stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed; see {os.path.join(out, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def jvm_cmd(classes, args):
    spark = spark_home()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    work = args[args.index("--work") + 1]
    opts += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}/derby"]
    cp = classes + os.pathsep + os.path.join(spark, "jars", "*")
    return ["java"] + opts + ["-cp", cp, "graftbench.Main"] + args


def end_to_end(res, ok_ops, cold_s):
    ops = res["ops"]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    by_type = {}
    for o in ops:
        by_type.setdefault(o["name"], []).append(o["ms"])
    geo = math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_type.values()))
    sp = res["space"]
    m = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "cold_start_s": (cold_s, "s"),
        "throughput_ops_s": (ok_ops / res["timed_s"], "ops/s"),
        "op_geomean_ms": (geo, "ms"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "space_amp": (sp["dir_bytes"] / sp["plain_bytes"], "ratio"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.exists(os.path.join(REPO, "tools", "oracle_check.py")):
        fail("tools/oracle_check.py (the oracle normalization) is not here")

    import checks
    import gen
    import layers

    classes = build()
    work = os.path.join(REPO, ".bench_work",
                        f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--inputs", inputs, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(CORES), "--setups", str(SETUPS[a.workload])]
        # the JVM starts its Spark session while the inputs are generated;
        # it waits for the READY marker before it reads any input
        log = open(os.path.join(work, "jvm.log"), "w")
        started = time.time()
        proc = subprocess.Popen(jvm_cmd(classes, args), cwd=work, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            t0 = time.time()
            # a round takes well over 0.5 s, so these rounds outlast the run
            rounds = int(a.seconds / 0.5) + 2
            gen.generate(a.workload, inputs, a.seed, a.size, rounds)
            gen_s = time.time() - t0
            open(os.path.join(inputs, "READY"), "w").close()
            code = proc.wait(timeout=JVM_TIMEOUT)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            log.close()
        if code != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"the harness JVM exited with {code}")
        jvm_s = time.time() - t0
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        t1 = time.time()
        # bad: op seq -> why its output is wrong; errors: wrong outputs no
        # single operation owns (the final table state)
        bad, errors = checks.check(a.workload, res, inputs, work, a.seed,
                                   a.size, REPO)
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)
        ops = res["ops"]
        failed = sum(1 for o in ops if not o["ok"] or o["seq"] in bad)
        for o in ops:
            if not o["ok"]:
                print(f"failed {o['name']} (round {o['round']}): {o['err']}",
                      file=sys.stderr)
            elif o["seq"] in bad:
                print(f"failed {o['name']} (round {o['round']}): "
                      f"{bad[o['seq']]}", file=sys.stderr)
        names = sorted({o["name"] for o in ops
                        if not o["ok"] or o["seq"] in bad})
        print(f"failed operations: {json.dumps(names)}", file=sys.stderr)
        ok_ops = sum(1 for o in ops if o["ok"])
        # process start to the first timed operation: JVM and session
        # start, input generation, the set-ups and the cold warm-up round
        cold_s = res["first_op_ms"] / 1000 - started
        print(f"times: cold start {cold_s:.1f} s, inputs {gen_s:.1f} s, "
              f"harness JVM {jvm_s:.1f} s "
              f"(set-ups {sum(res['setup_s']):.1f} s, timed "
              f"{res['timed_s']:.1f} s), checks {time.time() - t1:.1f} s",
              file=sys.stderr)
        out = os.path.join(REPO, ".bench_out")
        os.makedirs(out, exist_ok=True)
        tag = f"{a.workload}-s{a.seed}"
        if a.trace:
            metrics, spans = layers.per_layer(a.workload, res, ok_ops,
                                              CORES, a.seed, a.size)
            path = os.path.join(out, f"trace-{tag}.json")
            with open(path, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "gen_s": gen_s, "session_ms": res["session_ms"],
                           "metrics": metrics, "by_type": spans}, f,
                          indent=1)
            print(f"spans: {path}", file=sys.stderr)
        else:
            metrics = end_to_end(res, ok_ops, cold_s)
            # every operation's latency, for repeat.py's pooled tails
            with open(os.path.join(out, f"ops-{tag}.json"), "w") as f:
                json.dump([[o["name"], o["kind"], o["ms"]] for o in ops
                           if o["ok"]], f)
        print(json.dumps({"correct": not errors, "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
