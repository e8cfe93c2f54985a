#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,catalog} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It builds the repository's main sources plus the
harness in perfbench/ (sbt, cached under .bench_build/ by a hash of the
sources), runs one workload in one JVM, checks every answer, and prints the
metrics by name and unit. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones and writes
the span file to .bench_build/traces/. All run output lives under one root in
.bench_build/ that is deleted when the run ends. Exit code 0 means every
answer was right.
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

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "catalog")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
RUN_LIMIT_S = 175  # one run, build excluded
BUILD_LIMIT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            files.append(path)
        files += sorted(glob.glob(os.path.join(path, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compiles once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    if not os.path.isfile(os.path.join(HERE, "build.sbt")):
        fail("perfbench/build.sbt is missing")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
            "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + " ".join(opts)).strip()
    # every JVM sbt starts keeps its scratch files (socket, native libraries)
    # inside the checkout
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        rc = wait(proc, BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and "classes" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def wait(proc, limit):
    """Waits for a child's process group; kills the group on timeout or when this
    script is terminated. Returns the exit code."""
    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(143)
    old = signal.signal(signal.SIGTERM, stop)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    except KeyboardInterrupt:
        stop()
    finally:
        signal.signal(signal.SIGTERM, old)


def heap():
    """JVM heap from MemTotal: half the RAM, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "2g", 0
    return f"{min(8, max(2, kb // 2097152))}g", kb


def java(classpath, run_root, args):
    """Runs perfbench.Main in a fresh run root; returns (exit code, JVM flags)."""
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    xmx = heap()[0]
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    flags = [f"-Xms{xmx}", f"-Xmx{xmx}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(run_root, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + flags + ["-cp", classpath, "perfbench.Main", "--root", run_root,
                      "--data", os.path.join(HERE, "data", "sf0.01"),
                      "--out", os.path.join(run_root, "result.json")] + args)
    with open(os.path.join(run_root, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_root, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        return wait(proc, RUN_LIMIT_S), flags


def canon(df):
    """The oracle comparison's canonical form (tools/compare_oracle.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def fingerprint(df):
    import pandas as pd
    df = canon(df)
    h = hashlib.sha256()
    h.update(json.dumps([list(df.columns), [str(t) for t in df.dtypes]]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return {"rows": len(df), "sha256": h.hexdigest()}


def parquet_dir(path):
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def check_catalog(run_root, queries):
    """Each dumped query result against its DuckDB-verified fingerprint."""
    with open(os.path.join(HERE, "oracle", "catalog_fingerprints.json")) as fh:
        want = json.load(fh)["fingerprints"]
    bad = []
    for q in queries:
        try:
            got = fingerprint(parquet_dir(os.path.join(run_root, "verify", q)))
        except Exception as e:  # a missing or unreadable result is a wrong answer
            got = {"error": repr(e)}
        if got != want.get(q):
            bad.append(f"{q}: got {got} want {want.get(q)}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = spec["per_layer" if a.trace else "end_to_end"]

    t_build = time.time()
    classpath = build()
    build_s = time.time() - t_build
    cores = len(os.sched_getaffinity(0))
    mem_kb = heap()[1]
    run_root = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_out = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
    t_jvm = time.time()
    try:
        rc, jvm_flags = java(classpath, run_root, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--trace-out", trace_out])
        try:
            with open(os.path.join(run_root, "result.json")) as fh:
                res = json.load(fh)
        except (OSError, ValueError):
            with open(os.path.join(run_root, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"the {a.workload} JVM exited {rc} without a result")
        jvm_s = time.time() - t_jvm
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["info"].get("failures", []))
        if "queries" in res["info"]:  # a catalog pass ran: check its dumped answers
            bad = check_catalog(run_root, res["info"]["queries"])
            attempted += len(res["info"]["queries"])
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    metrics = {m["name"]: res["metrics"].get(m["name"]) for m in expected}
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        fail(f"the {a.workload} run did not measure {missing}")
    info = res["info"]
    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"host nproc={cores} MemTotal={mem_kb} kB jvm={' '.join(jvm_flags[:4])} "
          f"parallelism=local[{cores}] serial=local[1] build_s={build_s:.1f} jvm_s={jvm_s:.1f}")
    for k, v in info.items():
        if k != "failures":
            print(f"  {k}: {json.dumps(v)}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']} {v['unit']}")
    print(f"  failed_frac = {failed / max(1, attempted)} ({failed}/{attempted})")
    for f in failures[:20]:
        print(f"  FAILED: {f}")
    if a.trace:
        print(f"  spans: {os.path.relpath(trace_out, ROOT)}")
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
