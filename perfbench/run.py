#!/usr/bin/env python3
"""graft's benchmark: one seeded workload run, end to end or traced.

    python3 perfbench/run.py --workload batch|server|stream --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the harness from source (perfbench/harness, sbt) into .bench_build/.
Each run generates its inputs from the seed, starts a fresh JVM (Spark
local[4]), measures for S seconds, checks every output against a DuckDB
or NumPy reference and prints every metric by name and unit. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones from a traced run. The exit code is
non-zero when any operation failed or any output was wrong.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs
                             if x != "target" and not (x == "project" and d != HARNESS))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and harness (sbt) ...")
    t = time.time()
    # sbt's own state stays in the checkout too
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dsbt.global.base={BUILD}/sbt-global", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL)
    lines = [x for x in p.stdout.splitlines() if "classes" in x and ".jar" in x
             and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"built in {time.time() - t:.0f} s")
    return cp, digest


def jvm(cp, workload, work, seconds, trace):
    # a fixed-size heap keeps the peak RSS from following GC heap resizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "ab") as logf:
        p = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=150)
    res = f"{work}/result.json"
    if p.returncode != 0 or not os.path.exists(res):
        with open(f"{work}/jvm.log", errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"JVM failed (exit {p.returncode})")
    with open(res) as f:
        return json.load(f)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["batch", "server", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources (src/main/scala/graft) next to perfbench/")

    cp, digest = build()
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan = gen.generate(a.workload, a.seed, work, a.seconds)
        res = jvm(cp, a.workload, work, a.seconds, a.trace)
        failures = list(res["failures"])
        attempted, failed, notes = check.check(a.workload, plan, res, work)
        failures += notes
        failed = min(failed + len(res["failures"]), attempted)
        if a.trace:
            metrics = layers.per_layer(a.workload, plan, res)
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            trace_file = os.path.join(traces, f"{a.workload}-s{a.seed}.json")
            with open(trace_file, "w") as f:
                json.dump({k: res.get(k) for k in ("trace", "progress", "staged", "backlog")}, f)
        else:
            metrics, info = layers.end_to_end(a.workload, plan, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"cpus={CORES} nproc={os.cpu_count()} commit={commit() or 'n/a'} source={digest}")
    print("sizes " + " ".join(f"{k}={v}" for k, v in plan["sizes"].items()))
    print(f"failed_share {failed / attempted:.4f} ratio ({failed}/{attempted})")
    for x in failures:
        print(f"FAIL {x}")
    for x in res.get("conf_notes", []):
        print(f"NOTE {x}")
    if a.trace:
        selfs = sum(v["value"] for k, v in metrics.items() if k.startswith("self."))
        print(f"self times add up to {selfs:.1f} ms of a {metrics['trace.wall_ms']['value']:.1f} ms "
              f"traced operation; spans in {os.path.relpath(trace_file, ROOT)}")
    else:
        print(f"latency_p90_ms {info['latency_p90_ms']:.6g} ms (not gated; "
              f"{info['latency_samples']} latency samples)")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
