"""Benchmark driver: build graft from source, generate a seeded corpus, run one
workload in one fresh JVM, check its outputs and print one JSON result line.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run in a checkout compiles
src/main/scala plus perfbench/harness with the Scala compiler that ships in
the Spark jars (about 30 s); later runs reuse the build, which is keyed by a
hash of the sources. Corpora are cached by workload, seed and size. Both live
under .perfbench/ at the root, as does each run's scratch directory (Spark
warehouse, java.io.tmpdir, shuffle files, written output), which is deleted
when the run ends. Traced runs keep their spans in .perfbench/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "2g"            # fixed: Graph.gateFor derives broadcast gates from the heap
WARMUP_PASSES = {"reference_etl": 4, "llm_curation": 1, "neardup_clusters": 1}
JVM_TIMEOUT_S = 160    # a run must end within 180 s
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala under the working directory: run from the repository root")
    return main, sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {SPARK_JARS} (set SPARK_HOME)")
    return jars


def build():
    """Compile graft and the harness once per source hash; return the classpath."""
    main, harness = sources()
    jars = spark_classpath()
    h = hashlib.sha256()
    for p in main + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    resources = os.path.join(ROOT, "src/main/resources")
    cp_run = [out, resources] + jars
    if os.path.exists(os.path.join(out, ".ok")):
        return cp_run
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", tmp] + main + harness
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    os.replace(tmp, out)
    print(f"[perfbench] compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp_run


def corpus(workload, seed):
    """Generated inputs for (workload, seed), cached by seed and size."""
    d = os.path.join(WORK, "data", f"{workload}_s{seed}_n{gen.SIZES[workload]}")
    if not os.path.exists(os.path.join(d, "truth.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(os.path.join(d, "truth.json")) as f:
        return d, json.load(f)


def run_jvm(cp, workload, data, truth, seconds, trace, scratch):
    out = os.path.join(scratch, "out")
    for sub in ("out", "tmp", "warehouse", "local"):
        os.makedirs(os.path.join(scratch, sub))
    cores = min(4, os.cpu_count() or 1)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", ":".join(cp), "perfbench.PerfMain",
            "--workload", workload, "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--warmup", str(WARMUP_PASSES[workload]), "--docs", str(truth["n_docs"]),
            "--scratch", scratch])
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copy(log_path, os.path.join(logs, f"{workload}_s{truth['seed']}_t{trace}.log"))
    if rc != 0 or not os.path.exists(os.path.join(out, "metrics.json")):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"JVM run failed ({rc}):\n{tail}")
    with open(os.path.join(out, "metrics.json")) as f:
        m = json.load(f)
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    return m, result, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = load_spec()
    if a.workload not in gen.SIZES:
        fail(f"unknown workload {a.workload}; one of {sorted(gen.SIZES)}")
    cp = build()
    data, truth = corpus(a.workload, a.seed)
    scratch = os.path.join(WORK, "runs", f"{a.workload}_s{a.seed}_{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        m, result, out = run_jvm(cp, a.workload, data, truth, a.seconds, a.trace, scratch)
        problems = check.check(a.workload, data, truth, result, out)
        if m["mismatches"]:
            problems.append(f"{m['mismatches']} passes returned output differing from pass 1")
        for p in problems:
            print(f"[perfbench] check failed: {p}", file=sys.stderr)
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{a.workload}_s{a.seed}")
            shutil.copy(os.path.join(out, "spans.json"), stem + "_spans.json")
            with open(stem + "_metrics.json", "w") as f:
                json.dump(m, f, indent=1, sort_keys=True)
        wanted = spec["per_layer" if a.trace else "end_to_end"]
        missing = [x["name"] for x in wanted if x["name"] not in m["metrics"]]
        if missing:
            fail(f"metrics missing from the run: {missing}")
        print(json.dumps({
            "correct": not problems,
            "attempted": m["attempted"],
            "failed": m["failed"],
            "metrics": {x["name"]: {"value": m["metrics"][x["name"]], "unit": x["unit"]}
                        for x in wanted},
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
