#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny] [--wrong-expect 0|1]

Run it from the root of a checkout. The first run builds the engine from
the checkout's sources (src/main/scala) together with the harness in
perfbench/ into $CARGO_TARGET_DIR (default .bench_build); later runs reuse
that build while the sources are unchanged. The run starts one JVM with
Spark local[4], generates the workload's inputs from the seed, measures a
closed loop for --seconds, checks every output, and prints every metric by
name and unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics of
BENCHMARK.json when --trace 0 and its per-layer metrics when --trace 1.
A traced run of manytile_commit also runs the catalog pass (catalog.py):
seeded tables, each listed catalog query once, and a DuckDB oracle check of
every query's rows.
--size tiny and --wrong-expect exist for perfbench/selftest.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 172  # a run (build excluded) must end within this
BUILD_LIMIT_S = 850
CATALOG_WORKLOAD = "manytile_commit"  # its traced run carries the catalog pass
CATALOG_CHECK_S = 40  # kept free after the JVM for the catalog's oracle check

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list), plus the engine's shuffle-writer setting.
JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.shuffle.sort.bypassMergeThreshold=1",
    "-Xmx4g",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(out):
    """Builds once per distinct source tree; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "sbt", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                                f"-Dperfbench.out={out}", "compile", "writeClasspath"],
                               cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}", 1)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed, see {log}", 1)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--wrong-expect", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from a checkout of the repo")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution (its jars/ directory is the classpath)")

    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(out)
    started = time.monotonic()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    catalog = a.trace == 1 and a.workload == CATALOG_WORKLOAD
    if catalog:
        sys.path.insert(0, HERE)
        import catalog as cat
        cat.generate(os.path.join(work, "catalog"), a.seed, tiny=a.size == "tiny")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Main",
                                "--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--work", work, "--size", a.size,
                                "--wrong-expect", str(a.wrong_expect)]
    log = os.path.join(out, "runs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S - (time.monotonic() - started)
                        - (CATALOG_CHECK_S if catalog else 5))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time limit, see {log}", 1)
    report_path = os.path.join(work, "report.json")
    if rc != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited with {rc}, see {log}", 1)
    rep = json.load(open(report_path))

    attempted, failed, failures = rep["attempted"], rep["failed"], rep["failures"]
    if catalog:
        t0 = time.monotonic()
        checked, bad = cat.check(os.path.join(work, "catalog"), os.path.join(work, "catalog_out"))
        rep["info"]["catalog.checked"] = checked
        rep["info"]["check.oracle_s"] = round(time.monotonic() - t0, 3)
        # a query whose rows differ from its oracle is a failed op
        failed += len(bad)
        failures += [f"query {q}: {why}" for q, why in sorted(bad.items())]

    for name in ("report.json", "spans.jsonl"):
        if os.path.exists(os.path.join(work, name)):
            shutil.move(os.path.join(work, name), os.path.join(out, "runs", f"{tag}.{name}"))
    shutil.rmtree(work, ignore_errors=True)

    info = rep["info"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"(local[4], closed loop, 1 client, {a.seconds:g} s measured)")
    print("host  cpu_loop_ms start {:.1f} end {:.1f}  mem_pass_ms start {:.1f} end {:.1f}".format(
        info["host.cpu_loop_ms.start"], info["host.cpu_loop_ms.end"],
        info["host.mem_pass_ms.start"], info["host.mem_pass_ms.end"]))
    for k, v in info.items():
        if not k.startswith("host.") and not isinstance(v, dict):
            print(f"info  {k} = {v}")
    def num(v):
        return "nan" if v is None else f"{v:.6g}"
    for k, m in rep["e2e"].items():
        print(f"e2e   {k} = {num(m['value'])} {m['unit']} (n={m['samples']})")
    if a.trace:
        for k, m in rep["layers"].items():
            print(f"layer {k} = {num(m['value'])} {m['unit']}")
    print(f"ops   attempted {attempted} failed {failed}")
    for f in failures:
        print(f"FAILED {f}")

    if a.trace:
        names, src = spec["per_layer"], rep["layers"]
    else:
        names, src = spec["end_to_end"], rep["e2e"]
    metrics, absent = {}, []
    for m in names:
        if m["name"] in src:
            metrics[m["name"]] = {"value": src[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not run
            absent.append(m["name"])
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} was not measured", 1)
    if absent:
        print(f"not run on {a.workload} (reported as 0): {' '.join(absent)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
