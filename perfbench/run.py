#!/usr/bin/env python3
"""Benchmark launcher: one seeded run of one workload against the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source (perfbench/build.sbt, skipped while the sources are unchanged),
generates or reuses the workload's inputs for the seed, runs the harness
JVM (session set-up, timed from process start; a cold pass; then warm
passes for `--seconds`, at least one), checks every output against the
DuckDB oracle and the inputs against their workload's properties, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Every file it writes stays under perfbench/ (.build, .cache, .run).
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
BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".run")
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import props  # noqa: E402

WORKLOADS = ("etl-wikibooks", "dedup-dense")
# the harness JVM may run this long beyond --seconds: set-up, the cold pass,
# the warm pass under way when --seconds ends, and the output writes
JVM_MARGIN_S = 120
END_TO_END = ("setup_s", "cold_norm_s", "warm_norm_s", "items_per_norm_s",
              "task_cpu_norm_s", "shuffle_mb", "cache_mb")
UNITS = {"setup_s": "s", "cold_norm_s": "s", "warm_norm_s": "s", "items_per_norm_s": "1/s",
         "task_cpu_norm_s": "s", "shuffle_mb": "MB", "cache_mb": "MB"}
# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build compiles, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # sbt reads its launcher and compiler from the toolchain; its temp files,
    # JNA scratch and JVM perf data stay inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, JAVA_TOOL_OPTIONS=jvm)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            "-Dsbt.boot.lock=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(os.path.join(BUILD, "sbt.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith(os.path.join(HERE, "target")) and ":" in l]
    if rc != 0 or not cps:
        raise SystemExit(f"perfbench: build failed (rc={rc}), see {BUILD}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1].strip()


def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached with their property check
    under a key that also covers the generator's and the check's code."""
    h = hashlib.sha256()
    for m in (gen, props):
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    d = os.path.join(CACHE, f"{workload}-{seed}-{h.hexdigest()[:12]}")
    facts_file = os.path.join(d, "props.json")
    if not os.path.exists(facts_file):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(workload, seed, tmp)
        ok, facts = props.check(workload, tmp)
        with open(os.path.join(tmp, "props.json"), "w") as f:
            json.dump({"ok": ok, "facts": facts}, f, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(facts_file) as f:
        return d, json.load(f)


def java_cmd(cp, run_dir, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
             f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
             f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", cp, main] + args)


def launch(cmd, run_dir, log_name, timeout):
    """Run a JVM to completion; return (seconds from launch to the epoch time
    on its PERFBENCH_READY line, or None; return code)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    with open(os.path.join(run_dir, log_name), "w") as err:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            out, _ = p.communicate()
            return None, "timeout"
    ready = [int(l.split()[1]) / 1000.0 - t0 for l in out.splitlines()
             if l.startswith("PERFBENCH_READY ")]
    return (ready[0] if ready else None), p.returncode


def check_outputs(report, in_dir, run_dir, cpus):
    """Compare each checked output to its oracle digest; return mismatches."""
    expected = oracle.expected_digests(in_dir, report["oracle_sql"],
                                       os.path.join(in_dir, "oracle.json"),
                                       cpus, os.path.join(run_dir, "tmp"))
    bad = []
    for c in report["checks"]:
        if c["path"] is None or c["oracle"] is None:
            continue
        if c["kind"] == "Sink":
            pairs = [kv.split("=") for kv in c["oracle"].split(",")]
            got = {}
            for sink, q in pairs:
                t = pq.read_table(os.path.join(c["path"], "reference", sink))
                if sink == "token_vectors":
                    t = oracle.token_vector_strings(t)
                got[q] = oracle.digest(t)
        else:
            got = {c["oracle"]: oracle.digest(pq.read_table(c["path"]))}
        for q, d in got.items():
            if d != expected[q]:
                bad.append(f"{c['span']} ({q}): got {d}, oracle {expected[q]}")
    return bad


def check_counts(report, facts):
    """Table scans must return every generated row."""
    n = {"Tables.documents": facts.get("docs"), "Tables.embeddings": facts.get("vectors")}
    return [f"{c['span']}: {c['rows']} rows, generated {n[c['span']]}"
            for c in report["checks"]
            if c["span"] in n and (c["rows"] is None or int(c["rows"]) != n[c["span"]])]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    cp = build()
    in_dir, in_props = inputs(a.workload, a.seed)
    t_inputs = time.time()
    facts = in_props["facts"]
    items = facts["docs"]

    run_dir = os.path.join(RUNS, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    cpus = len(os.sched_getaffinity(0))

    # set-up is timed from the harness JVM's launch to its PERFBENCH_READY line
    setup_s, rc = launch(java_cmd(cp, run_dir, "graft.perfbench.Harness",
                                  [a.workload, in_dir, run_dir, str(cpus), str(a.trace),
                                   str(a.seconds)]),
                         run_dir, "harness.log", a.seconds + JVM_MARGIN_S)
    report_file = os.path.join(run_dir, "harness.json")
    if setup_s is None or rc != 0 or not os.path.exists(report_file):
        raise SystemExit(f"perfbench: harness failed (rc={rc}), see {run_dir}/harness.log")
    t_harness = time.time()
    with open(report_file) as f:
        report = json.load(f)

    problems = list(report["errors"])
    if not in_props["ok"]:
        problems.append(f"input properties do not hold: {facts}")
    problems += check_counts(report, facts)
    problems += check_outputs(report, in_dir, run_dir, cpus)
    for p in problems:
        log(f"FAIL {p}")
    log(f"phases: inputs {t_inputs - t_start:.1f}s, jvms {t_harness - t_inputs:.1f}s, "
        f"checks {time.time() - t_harness:.1f}s")

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in report["per_layer"].items()}
    else:
        e2e = dict(report["end_to_end"])
        e2e["setup_s"] = setup_s
        e2e["items_per_norm_s"] = items / e2e["cold_norm_s"]
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    log(f"setup {setup_s:.2f}s, cold {report['cold_s']:.2f}s, warm passes "
        f"{report['warm_pass_s']}, probe CPU {report['probe_cpu_s']}")
    log(f"cold calls {report['cold_calls_s']} warm calls {report['warm_calls_s']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": int(report["attempted"]),
                      "failed": len(problems), "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "Tables.bytes_read":
        return "B"
    return "count"


if __name__ == "__main__":
    main()
