"""Config-level pipeline benchmark for graft.

    python3 perfbench/run.py --workload <records_etl|corpus_dedup|graph_loops>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The script compiles the engine and
the harness from source (cached under .bench_build by a digest of the
sources), generates the workload's inputs from the seed, runs the workload's
config in a fresh JVM as a closed loop (one client, executions back to back),
checks every execution's output and prints one JSON result as the last line
of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("records_etl", "corpus_dedup", "graph_loops")
# untimed executions after the first: warm time was still falling after
# four or five executions when the workloads were sized
WARMUP = {"records_etl": 5, "corpus_dedup": 1, "graph_loops": 2}
JVM_TIMEOUT_S = 150
# the JVM sees at most four processors, so the engine's default shuffle width
# is the same on any box with four or more; Spark runs two task threads and
# leaves the other cores to the driver, JIT and GC threads
MAX_PROCESSORS = 4
MASTER_WIDTH = 2
E2E_UNITS = {"setup_s": "s", "first_run_s": "s", "run_s": "s", "heap_retained_mb": "MB"}

# the same module opens build.sbt passes to forked runs on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home:
        d = os.path.join(home, "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar")) \
        if os.path.isdir(d) else []
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no Spark and Scala compiler jars in {d}")
    return jars


def sources(root):
    files = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(BENCH_DIR, "scala")):
        for r, _, fs in os.walk(base):
            files += [os.path.join(r, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build(root, build_dir, jars):
    """Compile src/main/scala plus the harness; reuse the classes while the
    sources and jars are unchanged."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        fail("no engine sources under src/main/scala (run from the repository root)")
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = tempfile.mkdtemp(prefix="classes-", dir=build_dir)
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return classes, stamp


def mem_total_gb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1048576
    except OSError:
        pass
    return 8.0


def jvm_command(classes, jars, build_dir, processors, heap_gb):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{heap_gb}g", f"-XX:ActiveProcessorCount={processors}",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=localhost",
        "-Dspark.driver.bindAddress=127.0.0.1",
        f"-Dspark.local.dir={tmp}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
        f"-Dderby.system.home={build_dir}",
        # room for every traced task event, and call sites deep enough to
        # reach the pipeline frame that attributes a job to its step
        "-Dspark.scheduler.listenerbus.eventqueue.capacity=200000",
        "-Dspark.callstack.depth=200",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes] + jars),
        "perfbench.Harness",
    ]
    return cmd


def run_jvm(cmd, log):
    with open(log, "ab") as f:
        try:
            proc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s (log: {log})")
    if proc.returncode != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {proc.returncode}")


def git_commit(root):
    """HEAD when the working directory is itself a git checkout, else None
    (the source digest in the record identifies the code either way)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("no build.sbt in the working directory (run from the repository root)")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes, source_digest = build(root, build_dir, jars)

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        record = bench(args, root, build_dir, classes, source_digest, jars, run_dir, in_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("record " + json.dumps(record["summary"]))
    print(json.dumps(record["result"]))


def bench(args, root, build_dir, classes, source_digest, jars, run_dir, in_dir, out_dir):
    config = os.path.join(BENCH_DIR, "configs", f"{args.workload}.json")
    t0 = time.time()
    props, truth = gen.generate(args.workload, args.seed, in_dir)
    gen_s = time.time() - t0
    checker = check.checker(args.workload, in_dir, config, truth)

    processors = max(1, min(MAX_PROCESSORS, os.cpu_count() or 1))
    width = max(1, min(MASTER_WIDTH, processors))
    heap_gb = max(1, min(4, int(mem_total_gb() // 4)))
    master = f"local[{width}]"
    jvm = jvm_command(classes, jars, build_dir, processors, heap_gb)
    log = os.path.join(build_dir, f"jvm-{args.workload}.log")
    open(log, "w").close()

    res, spans = os.path.join(run_dir, "result.json"), os.path.join(run_dir, "spans.jsonl")
    run_jvm(jvm + ["run", master, config, in_dir, out_dir, str(args.seconds),
                   str(WARMUP[args.workload]), str(args.trace),
                   os.path.join(BENCH_DIR, "configs", "missing_input.json"), res, spans], log)
    with open(res) as f:
        jr = json.load(f)

    # verdicts: an execution fails if it threw or its output check failed
    execs = jr["executions"]
    digests = {}
    for e in execs:
        if e["ok"]:
            ok, digest, msg = checker.check(os.path.join(out_dir, f"exec-{e['index']}"))
            e["ok"], e["check"] = ok, msg
            if digest is not None:
                digests[e["index"]] = digest
        shutil.rmtree(os.path.join(out_dir, f"exec-{e['index']}"), ignore_errors=True)
    if digests:
        # a deterministic pipeline writes the same rows every time
        common = statistics.mode(digests.values())
        for e in execs:
            if e["index"] in digests and digests[e["index"]] != common:
                e["ok"], e["check"] = False, "output differs from the run's other executions"
    attempted = len(execs)
    failed = sum(not e["ok"] for e in execs)
    # the self-test: a config whose input is missing must come back failed
    # and carry no time
    st = jr["selftest"]
    selftest_ok = (not st["ok"]) and st["wall_s"] is None
    for e in execs:
        if not e["ok"]:
            e["wall_s"] = None

    # times are net of CPU steal: on a shared virtual host, other guests take
    # a varying share of the CPU for minutes at a time, and the raw wall time
    # would measure them rather than the program (raw times stay in the record)
    def net(wall, steal):
        return None if wall is None else wall * (1 - steal)

    first = execs[0]
    timed = [e for e in execs if e["phase"] == "timed" and e["ok"] and not e["traced"]]
    run_times = [net(e["wall_s"], e["steal_share"]) for e in timed]
    e2e = {
        "setup_s": net(jr["setup_s"], jr["setup_steal_share"]),
        "first_run_s": net(first["wall_s"], first["steal_share"]),
        "run_s": statistics.median(run_times) if run_times else None,
        "heap_retained_mb": jr["heap_retained_mb"],
    }
    raw = {"setup_s": jr["setup_s"], "first_run_s": first["wall_s"],
           "run_s": statistics.median(e["wall_s"] for e in timed) if timed else None}
    correct = failed == 0 and selftest_ok and None not in e2e.values()

    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted,
        "selftest": {"forced_failure_counted": selftest_ok, "error": st["error"]},
        "e2e": e2e,
        "e2e_raw_wall": raw,
        "setup_steal_share": jr["setup_steal_share"],
        "samples": {"setup_s": 1, "first_run_s": 1, "run_s": len(run_times)},
        "run_samples_s": run_times,
        "executions": [{k: e.get(k) for k in ("index", "phase", "traced", "ok", "wall_s",
                                               "parse_s", "gc_s", "steal_share", "check",
                                               "error")}
                       for e in execs],
        "input": props,
        "env": dict(jr["env"], nproc=os.cpu_count(), master=master, xmx=f"{heap_gb}g",
                    warmup_executions=WARMUP[args.workload], timed_executions=len(timed),
                    git_commit=git_commit(root), source_sha256=source_digest,
                    python=platform.python_version(),
                    input_gen_s=gen_s),
    }
    if args.trace:
        tr = layers.analyse(spans, jr, props, width)
        summary["trace_detail"] = tr["detail"]
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in tr["metrics"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    for e in execs:
        if not e["ok"]:
            print(f"failed execution {e['index']} ({e['phase']}): "
                  f"{e.get('check') or e.get('error')}", file=sys.stderr)
    for k, m in metrics.items():
        n = summary["samples"].get(k)
        print(f"{k:28s} {m['value']!s:>22} {m['unit']}" + (f"  (n={n})" if n else ""))
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"summary": summary, "result": result}


if __name__ == "__main__":
    main()
