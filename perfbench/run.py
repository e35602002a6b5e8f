#!/usr/bin/env python3
"""graft benchmark: one named closed-loop workload, one seed, one run.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds graft from src/main (and the
harness beside this file) with the Scala compiler in the Spark
distribution's jars, generates the workload's inputs from the seed, runs
the harness JVM (one cold set-up, then the timed loop), checks every
answer, and prints one JSON line last: the end-to-end metrics with
--trace 0, the per-layer metrics (plus tracing overhead) with --trace 1.
It exits non-zero when any output check fails. Environment: SPARK_JARS
(default $SPARK_HOME/jars, else the unmanagedBase of build.sbt),
CARGO_TARGET_DIR (build directory, default .bench_build).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import gen  # noqa: E402
import queries  # noqa: E402
import reduce  # noqa: E402

WORKLOADS = ["adhoc_sql", "curate_batch", "lakehouse_rw"]
# warm-up ops in the set-up; adhoc_sql warms every template, so the timed
# loop meets no first compilation
WARMUP_OPS = {"adhoc_sql": 6, "curate_batch": 3, "lakehouse_rw": 2}
CLIENTS = 2            # adhoc_sql concurrent clients (capped at nproc)
CURATE_DOCS = 600      # curate_batch corpus, sampled by whole clusters
# lakehouse_rw: a checkpoint every 3 cycles (6 commits); tables restart
# after 3 checkpoint cycles
LAKE = {"batch_rows": 2000, "checkpoint_cycles": 3, "epoch_cycles": 9}
HEAP = "3g"
JVM_DEADLINE_S = 170   # the run as a whole must end within 180 s
SCALA = "2.13.17"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """SPARK_JARS, else $SPARK_HOME/jars, else the unmanagedBase build.sbt names."""
    d = os.environ.get("SPARK_JARS")
    if not d and os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not d and os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read("build.sbt"))
        d = m.group(1) if m else None
    jars = sorted(glob.glob(os.path.join(d, "*.jar"))) if d else []
    if not jars:
        fail(f"no Spark jars found (directory: {d})")
    return jars


def scalac(jars, classpath, sources, out):
    tool = [j for j in jars if os.path.basename(j) in
            (f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar", f"scala-reflect-{SCALA}.jar")]
    if len(tool) != 3:
        fail(f"Scala {SCALA} compiler jars not found beside Spark's")
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    p = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(tool), "scala.tools.nsc.Main",
                        "-nowarn", "-usejavacp:false", "-classpath", ":".join(classpath),
                        "-d", out, "@" + argfile], capture_output=True, text=True)
    if p.returncode != 0:
        fail("compile failed:\n" + (p.stdout + p.stderr)[-4000:])


def build(build_dir, jars):
    """Compiles graft's src/main and the harness once per source state."""
    src = os.path.join("src", "main", "scala")
    if not os.path.isdir(src):
        fail("run from the repository root: src/main/scala is missing")
    graft_src = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True))
    res = os.path.join("src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))

    def stamp(files):
        h = hashlib.sha256(SCALA.encode())
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    graft_out = os.path.join(build_dir, "graft-classes")
    harness_out = os.path.join(build_dir, "harness-classes")
    g_stamp = stamp(graft_src + resources)
    h_stamp = stamp(harness_src) + g_stamp
    if _read(graft_out + ".stamp") != g_stamp:
        shutil.rmtree(graft_out, ignore_errors=True)
        scalac(jars, jars, graft_src, graft_out)
        for r in resources:
            dst = os.path.join(graft_out, os.path.relpath(r, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        _write(graft_out + ".stamp", g_stamp)
    if _read(harness_out + ".stamp") != h_stamp:
        shutil.rmtree(harness_out, ignore_errors=True)
        scalac(jars, [graft_out] + jars, harness_src, harness_out)
        _write(harness_out + ".stamp", h_stamp)
    return [harness_out, graft_out]


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def selftest():
    suite = unittest.defaultTestLoader.loadTestsFromName("test_reduce")
    res = unittest.TextTestRunner(stream=open(os.devnull, "w"), verbosity=0).run(suite)
    if not res.wasSuccessful():
        for _, tb in res.failures + res.errors:
            print(tb, file=sys.stderr)
        fail("benchmark self-tests failed", 3)


def generate(workload, seed, out_dir):
    """Writes the workload's inputs; returns a description of them."""
    if workload == "adhoc_sql":
        return gen.tpch(out_dir, seed)
    if workload == "curate_batch":
        return {"documents": gen.documents(out_dir, seed, CURATE_DOCS)}
    os.makedirs(out_dir, exist_ok=True)  # lakehouse_rw: batches come from the seed in the harness
    return {"batch_rows": LAKE["batch_rows"]}


def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu


def host_context(before, after):
    d = [b - a for a, b in zip(before, after)]
    steal = d[7] if len(d) > 7 else 0
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "steal_pct": round(100.0 * steal / sum(d), 3) if sum(d) else 0.0}


def finite(metrics):
    return {k: (0.0 if isinstance(v, float) and not math.isfinite(v) else v) for k, v in metrics.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    selftest()
    build_dir = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    jars = spark_jars()
    classpath = build(build_dir, jars) + jars
    t_start = time.time()  # the build may take longer than a run; it is not part of the deadline

    nproc = os.cpu_count() or 1
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpu0 = host_sample()
    try:
        # ---- inputs (their generation is part of the set-up)
        data_dir = os.path.join(run_dir, "data")
        t = time.perf_counter()
        inputs = generate(a.workload, a.seed, data_dir)
        gen_s = time.perf_counter() - t
        sqls = queries.generate(a.seed) if a.workload == "adhoc_sql" else []
        conf = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": bool(a.trace), "nproc": nproc, "clients": min(CLIENTS, nproc),
                "work_dir": run_dir, "data_dir": data_dir, "out": os.path.join(run_dir, "raw.json"),
                "warmup_ops": WARMUP_OPS[a.workload], "queries": [g for g, _ in sqls], **LAKE}
        conf_path = os.path.join(run_dir, "config.json")
        _write(conf_path, json.dumps(conf))

        # ---- the harness JVM
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # -UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
                f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", ":".join(classpath), "perfbench.Harness", conf_path])
        log_path = os.path.join(run_dir, "jvm.log")
        t_jvm = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = proc.wait(timeout=max(10.0, JVM_DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                tail = f.read()[-4000:]
            fail(f"harness exited with {rc}:\n{tail}", 1)
        with open(conf["out"]) as f:
            raw = json.load(f)
        t_check = time.time()

        # ---- output checks: the harness's own, plus DuckDB for the front door
        bad = {o["id"]: o["err"] for o in raw["ops"] if not o["ok"]}
        if a.workload == "adhoc_sql":
            bad.update(queries.check(raw["responses"], [d for _, d in sqls], data_dir))
        for o in raw["ops"]:
            o["ok"] = o["id"] not in bad
        attempted = len(raw["ops"])
        for op_id, err in sorted(bad.items())[:5]:
            print(f"# op {op_id} failed: {err}", file=sys.stderr)

        metrics = (reduce.per_layer(raw, gen_s) if a.trace else reduce.end_to_end(raw, gen_s))
        units = reduce.PER_LAYER if a.trace else reduce.END_TO_END
        host = host_context(cpu0, host_sample())
        wall = {"before_jvm_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
                "after_loop_s": t_check - raw["end"], "check_s": time.time() - t_check}
        print("# " + json.dumps({"host": host, "wall": wall, "inputs": inputs, "ops": attempted,
                                 "latency_samples": sum(1 for o in raw["ops"] if o["ok"])}))
        result = {"correct": not bad and attempted > 0, "attempted": max(attempted, 1), "failed": len(bad),
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in finite(metrics).items()}}
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
