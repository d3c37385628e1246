#!/usr/bin/env python3
"""Run one lakebench workload and print its metrics as one JSON line.

    python3 lakebench/run.py --workload batch_refresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the program. The first run builds the
program and the benchmark driver with sbt (offline) and caches the
classpath under lakebench/target; later runs reuse it while the sources
are unchanged. Each run works in its own scratch directory under
lakebench/.scratch (JVM temp dir, Spark local dir, inputs, warehouses),
which is deleted when the run ends. See lakebench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()
sys.dont_write_bytecode = True  # the checkout stays as it was, apart from target/ and .scratch/
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("batch_refresh", "wave_refresh", "llm_curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def _on_signal(signum, _frame):
    _stop_child()
    sys.exit(128 + signum)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Return (classpath, seconds spent building)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources are not here: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "lakebench.classpath")
    stamp_file = os.path.join(target, "lakebench.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), 0.0
    t = time.time()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state (global settings, server, temp files) stays in target/
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", f"-Dsbt.global.base={os.path.join(target, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(target, 'ivy2')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "lakebench/compile",
         "export lakebench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], time.time() - t


def clear_stale_scratch(base):
    """Remove run directories left by runs whose process is gone."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
            except PermissionError:
                pass


def run_jvm(cp, args, scratch, cores, build_s):
    global _child
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    mem = "3g"
    cmd = (["java", f"-Xmx{mem}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "lakebench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--dir", scratch, "--cores", str(cores)])
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.DEVNULL, stdout=log,
                                  stderr=subprocess.STDOUT, start_new_session=True,
                                  env=dict(os.environ, TMPDIR=tmp))
        try:
            # a first run's build does not count against the run's own limit
            rc = _child.wait(timeout=max(10.0, RUN_TIMEOUT_S - (time.time() - T0 - build_s)))
        except subprocess.TimeoutExpired:
            _stop_child()
            rc = None
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("the benchmark JVM timed out" if rc is None else f"the benchmark JVM failed ({rc})")
    with open(os.path.join(scratch, "result.json")) as f:
        return json.load(f)


def end_to_end(res, setup_s):
    per_round = len(res["read_s"]) // res["rounds"]
    round_reads = [statistics.mean(res["read_s"][i:i + per_round])
                   for i in range(0, len(res["read_s"]), per_round)]
    return {
        "setup_s": (setup_s, "s"),
        "op_s": (statistics.median(res["op_s"]), "s"),
        "read_s": (statistics.median(round_reads), "s"),
        "written_mb": (statistics.median(res["written_bytes"]) / 1e6, "MB"),
    }


def ratio(a, b):
    return a / b if b else 0.0


def per_layer(workload, res, params, extra):
    lay = res["layer"]
    ops = max(lay.get("op.count", 0), 1)
    reads = max(lay.get("read.count", 0), 1)

    def op(k):
        return lay.get("op." + k, 0.0) / ops

    def rd(k):
        return lay.get("read." + k, 0.0) / reads

    m = {
        "trace.op_s": (op("wall_s"), "s"),
        "trace.read_s": (rd("wall_s"), "s"),
        "spark.jobs": (op("jobs"), "count"),
        "spark.tasks": (op("tasks"), "count"),
        "spark.task_s": (op("task_s"), "s"),
        "spark.gc_s": (op("gc_s"), "s"),
        "spark.shuffle_mb": (op("shuffle_mb"), "MB"),
        "spark.spill_mb": (op("spill_mb"), "MB"),
        "spark.gap_s": (op("wall_s") - op("busy_s"), "s"),
        "spark.read_jobs": (rd("jobs"), "count"),
        "spark.read_gap_s": (rd("wall_s") - rd("busy_s"), "s"),
        "catalyst.plans": (op("plans"), "count"),
        "catalyst.plan_s": (op("plan_s"), "s"),
        "catalyst.read_plans": (rd("plans"), "count"),
        "catalyst.read_plan_s": (rd("plan_s"), "s"),
        "ecom.silver_s": (lay.get("ecom.silver_s", 0.0) / ops, "s"),
        "ecom.gold_s": (lay.get("ecom.gold_s", 0.0) / ops, "s"),
        "ecom.dq_s": (lay.get("ecom.dq_s", 0.0) / ops, "s"),
        "table.commits": (lay.get("table.commits", 0.0) / ops, "count"),
        "table.data_files": (lay.get("table.data_files", 0.0) / ops, "count"),
        "table.data_mb": (lay.get("table.data_mb", 0.0) / ops, "MB"),
        "table.log_mb": (lay.get("table.log_mb", 0.0) / ops, "MB"),
        "table.live_files": (lay.get("table.live_files", 0.0) / ops, "count"),
        "ivm.silver_commits": (lay.get("ivm.silver_commits", 0.0) / ops, "count"),
        "ivm.gold_commits": (lay.get("ivm.gold_commits", 0.0) / ops, "count"),
        "ivm.rows_landed": (lay.get("ivm.rows_landed", 0.0) / ops, "count"),
        "ivm.rows_committed": (op("rows_written") if workload == "wave_refresh" else 0.0,
                               "count"),
        "ivm.useful_ratio": (ratio(lay.get("ivm.rows_landed", 0.0), lay.get("op.rows_written", 0.0))
                             if workload == "wave_refresh" else 0.0, "ratio"),
        "sql.files_read": (rd("files_read"), "count"),
        "sql.files_live": (rd("files_live"), "count"),
        "sql.read_mb": (rd("read_mb"), "MB"),
        "sql.read_share": (ratio(rd("files_read"), rd("files_live")), "ratio"),
        "llm.signature_s": (lay.get("llm.signature_s", 0.0) / ops, "s"),
        "llm.candidate_pairs": (lay.get("llm.candidate_pairs", 0.0) / ops, "count"),
        "llm.verified_pairs": (lay.get("llm.verified_pairs", 0.0) / ops, "count"),
        "llm.verify_ratio": (ratio(lay.get("llm.verified_pairs", 0.0),
                                   lay.get("llm.candidate_pairs", 0.0)), "ratio"),
        "llm.cluster_s": (lay.get("llm.cluster_s", 0.0) / ops, "s"),
        "llm.cluster_jobs": (lay.get("llm.cluster_jobs", 0.0) / ops, "count"),
        "llm.ann_candidates": (lay.get("llm.ann_candidates", 0.0) / reads
                               / float(params.get("batch_size", 1)), "count"),
        "llm.ann_probe_s": (rd("wall_s") if workload == "llm_curation" else 0.0, "s"),
        "llm.recall_bps": (extra.get("recall_bps", 0), "bps"),
        "llm.pair_recall_bps": (extra.get("pair_recall_bps", 0), "bps"),
    }
    return m


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)

    cp, build_s = build()
    import checks  # noqa: E402 (after the build check, which fails fast on an empty tree)
    import inputs  # noqa: E402

    # one core is left to the JIT, GC and driver threads
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    base = os.path.join(HERE, ".scratch")
    os.makedirs(base, exist_ok=True)
    clear_stale_scratch(base)
    scratch = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        params = inputs.write(args.workload, args.seed, scratch)
        t_jvm = time.time()
        res = run_jvm(cp, args, scratch, cores, build_s)
        t_check = time.time()
        setup_s = res["setup_end_ms"] / 1000.0 - T0 - build_s
        verdict, extra = checks.check(args.workload, scratch, res, params)
        verdict.notes.append(f"lakebench: seed {args.seed}: inputs {t_jvm - T0 - build_s:.1f} s, "
                             f"JVM {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s")
    finally:
        _stop_child()
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = per_layer(args.workload, res, params, extra) if args.trace else end_to_end(res, setup_s)
    for line in verdict.notes:
        print(line)
    print(json.dumps({
        "correct": verdict.correct,
        "attempted": res["rounds"] * res["ops_per_round"],
        "failed": verdict.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
