#!/usr/bin/env python3
"""Benchmark of the graft engine: crawl loop, corpus analytics and the
status stream, end to end (--trace 0) or layer by layer (--trace 1).

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
drivers with sbt (offline) into .bench_build/; later runs reuse the
build until a source file changes. Each run starts one JVM, checks its
outputs and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import lib  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170
BUILD_DEADLINE_S = 850

# Spark on JDK 17 outside spark-submit (the engine's build.sbt sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Files whose change invalidates the cached build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return files


def classpath():
    """Build once with sbt and cache the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in build_inputs())
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(cmd, HERE, out, subprocess.STDOUT, BUILD_DEADLINE_S, env)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or cp.startswith("[") or not cp:
        fail(f"build failed (rc={rc}), see {log}")
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    return cp


def run_child(cmd, cwd, stdout, stderr, timeout, env=None):
    """Run to completion in its own process group; on timeout, or when
    this process is stopped, the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _stop(signum, _frame):
    raise SystemExit(128 + signum)


def jvm(cp, work, args, timeout):
    """Start the driver main; returns (raw result, epoch seconds at start)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx4g", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              "-cp", cp, "perfbench.Main"] + args)
    out_path, err_path = os.path.join(work, "jvm.out"), os.path.join(work, "jvm.err")
    t0 = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_child(cmd, work, out, err, timeout)
    with open(out_path) as f:
        raw = [x for x in f if x.startswith("PERFBENCH_RAW ")]
    if rc != 0 or not raw:
        with open(err_path) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM exited with {rc}", 1)
    return json.loads(raw[-1].split(" ", 1)[1]), t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=[n for n, _ in lib.WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=lib.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-manifest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    if a.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(lib.manifest(), f, indent=2)
            f.write("\n")
        return
    if not a.workload:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    started = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")
    cp = classpath()

    # a fixed path: the crawl's urls embed it, and url hashes place work
    # on partitions, so it must not change from run to run
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.time()
        base = [f"work={work}", f"cpus={len(os.sched_getaffinity(0))}"]
        if a.workload == "crawl_loop":
            c = lib.CRAWL
            plans = {n: lib.crawl_plan(lib.crawl_plan_seed(a.seed, n), c["hosts"], c["pages"])
                     for n in lib.CRAWLS[a.trace]}
            for n, plan in plans.items():
                lib.write_crawl_corpus(plan, c["hosts"], os.path.join(work, "input", n))
            args = base + ["workload=crawl_loop", f"input={os.path.join(work, 'input')}",
                           f"hosts={c['hosts']}", f"pages={c['pages']}",
                           f"delay_ms={c['delay_ms']}", f"trace={a.trace}"]
        else:
            args = base + ["workload=corpus", f"input={os.path.join(HERE, lib.CORPUS_DIR)}",
                           "queries=" + ",".join(lib.CORPUS_QUERIES),
                           f"passes={lib.corpus_passes(a.seconds)}"]
            s = lib.STREAM
            if a.trace:
                args += [f"rows_per_batch={s['rows_per_batch']}",
                         f"warm_batches={s['warm_batches']}",
                         f"timed_batches={s['timed_batches']}",
                         f"key_offset={lib.stream_key_offset(a.seed)}",
                         f"key_space={s['key_space']}", f"ttl_key_space={s['ttl_key_space']}"]
        gen_s = time.time() - t_gen
        raw, t_start = jvm(cp, work, args, DEADLINE_S - (time.time() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = gen_s + (raw["timed_start_ms"] / 1000.0 - t_start)
    if a.workload == "crawl_loop":
        errs = lib.check_crawl(raw, c["hosts"], c["pages"], plans)
        measured = lib.crawl_metrics(raw)
        cycles = [x for crawl in raw["crawls"].values() for x in crawl["cycles"]]
        attempted = sum(x["selected"] for x in cycles)
        failed = sum(x["failed"] for x in cycles)
    else:
        errs = lib.check_corpus(raw, lib.CORPUS_RECORDED)
        measured = lib.corpus_metrics(raw)
        attempted, failed = sum(len(p["queries"]) for p in raw["passes"]), 0
        if a.trace:
            batches = s["warm_batches"] + s["timed_batches"]
            errs += lib.check_stream(raw, s["rows_per_batch"], batches, lib.STREAM_RECORDED)
            measured.update(lib.stream_metrics(raw))
            attempted += batches * len(lib.STREAM_LEGS)
    measured["setup_s"] = (setup_s, "s")
    measured["jvm.heap_peak_mb"] = (raw["heap_peak_mb"], "MB")
    for e in errs:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(lib.emit(not errs, attempted, failed, lib.select_metrics(measured, a.trace)))
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
