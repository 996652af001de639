#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source tree; later
runs reuse the build), generates the workload's inputs from the seed,
runs the harness JVM (set-up, timed window, untimed checks), checks the
outputs against DuckDB and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer metrics, from a run with listeners and spans on.

The line before it is a JSON object with the workload's own named metrics
(e.g. ``query_p50_ms``), the host facts and any failure messages.

Every file it writes stays under ``perfbench/.work`` (the build under
``perfbench/target`` and ``perfbench/project``).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 175

sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402

# Input sizes and settings per workload.
REGISTRY_SF = 0.01
EMB_SF = 0.01
STREAM_BACKLOG_ROWS = 20_000
STREAM_FILE_ROWS = 200
STREAM_INTERVAL_MS = 200



def metric_units(kind):
    """(name, unit) of the "end_to_end" or "per_layer" metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    trees = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, fs in sorted(os.walk(t)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, out, err, env=None):
    """Run `cmd` in its own process group; kill the group at `timeout`."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile engine + harness with sbt unless this source tree was built;
    returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and harness with sbt")
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as lf:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false",
                          "compile", "export Runtime/fullClasspath"],
                         BENCH, 840, lf, subprocess.STDOUT, env)
    with open(os.path.join(WORK, "build", "sbt.log")) as lf:
        lines = [l.strip() for l in lf if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise RuntimeError("sbt build failed; see perfbench/.work/build/sbt.log")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def make_inputs(workload, seed, seconds, inp):
    """Write the workload's inputs; returns extra harness options."""
    if workload == "registry_sf001":
        gen.write_tables(os.path.join(inp, "tables"), seed, REGISTRY_SF)
        return {}
    if workload == "stream_ingest":
        n_files = seconds * 1000 // STREAM_INTERVAL_MS + 5
        total = STREAM_BACKLOG_ROWS + n_files * STREAM_FILE_ROWS
        topics = gen.reference_records(seed, total)
        backlog_rows = 0
        for name, lines in zip(("pin", "geo", "user"), topics):
            cut = len(lines) - n_files * STREAM_FILE_ROWS
            backlog_rows += cut
            gen.write_lines(os.path.join(inp, "backlog", name), lines[:cut], 8)
            gen.write_lines(os.path.join(inp, "pending", name), lines[cut:],
                            n_files, prefix="f")
        gen.write_tables(os.path.join(inp, "tables"), seed, EMB_SF,
                         only=("embeddings",))
        return {"rows": backlog_rows, "interval-ms": STREAM_INTERVAL_MS}
    raise ValueError(f"unknown workload {workload}")


def java_cmd(cp, opts, tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["registry_sf001", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {ENGINE_SRC}")
        return 2
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set")
        return 2
    cp = build()
    t_built = time.time()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work, tmp = (os.path.join(run_dir, d) for d in ("input", "work", "tmp"))
    for d in (inp, work, tmp):
        os.makedirs(d)
    extra = make_inputs(a.workload, a.seed, a.seconds, inp)
    log(f"inputs ready in {time.time() - t_built:.1f} s")

    opts = {"workload": a.workload, "input": inp, "work": work,
            "seconds": a.seconds, "trace": a.trace, "cores": cores(),
            "seed": a.seed, **extra}
    # the first run in a checkout may spend most of its budget building
    budget = DEADLINE_S - (time.time() - t_built) - 10
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        rc = run_bounded(java_cmd(cp, opts, tmp), work, budget, out, err)
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        log(f"harness exited with {rc}; see perfbench/.work/run/jvm.err")
        return 1
    with open(result_file) as f:
        res = json.load(f)

    check_failed, msgs = check.run_checks(res["checks"])
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + check_failed)
    messages = res["failures"] + msgs
    if a.trace:
        layers = res["layers"]
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": u}
                   for n, u in metric_units("per_layer")}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u}
                   for n, u in metric_units("end_to_end")}
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "named": {m["name"]: {"value": m["value"], "unit": m["unit"]}
                      for m in res["named"]},
            "failed_frac": failed / max(1, attempted),
            "host": res["host"], "failures": messages[:20],
            "build_s": round(t_built - t_start, 1),
            "total_s": round(time.time() - t_start, 1)}
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0 and not messages,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
