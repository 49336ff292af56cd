#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the benchmark from source
with sbt (perfbench/build.sbt compiles against the repository's own build);
later runs reuse the build while the sources are unchanged. Each run starts
one JVM at local[nproc] and prints, as the last line of standard output, one
JSON object: {"correct", "attempted", "failed", "metrics"}. Details (checks,
sample counts, host facts) and, with --trace 1, the spans are written next to
the result under .bench_build/out/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "cep_trickle", "table_ops", "queries")
# the whole run, build excluded, must end well inside 180 s
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    return env


def build():
    """Compile with sbt once per source digest; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(p.stdout)
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def heap():
    """Half of RAM, clamped to 2..8 GiB (the repository's test-run sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}; run from the root of a full checkout")
    if not os.path.isfile(os.path.join(HERE, "data", "events.parquet")):
        fail("benchmark inputs missing under perfbench/data")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")

    cp = build()
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    result = os.path.join(out_dir, f"{stem}.json")
    log = os.path.join(out_dir, f"{stem}.log")
    cmd = (["java", f"-Xmx{heap()}", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", ROOT,
              "--out", result])
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{a.workload} exceeded {RUN_LIMIT_S} s; see {log}", 3)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{a.workload} failed (exit {code}); see {log}", 3)
    with open(result) as fh:
        res = json.load(fh)
    # the metrics BENCHMARK.json lists for this mode, by name, with their units;
    # a layer the workload does not exercise reads 0. A workload BENCHMARK.json
    # does not list (run by hand) reports only what it measures.
    kind = "per_layer" if a.trace else "end_to_end"
    listed = a.workload in {w["name"] for w in spec["workloads"]}
    metrics = {}
    for m in spec[kind]:
        v = res[kind].get(m["name"])
        if v is None and kind == "end_to_end":
            if listed:
                fail(f"{a.workload} did not measure {m['name']}; see {log}", 3)
            continue
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    res = {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
           "metrics": metrics}
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} "
          f"wall={time.time() - t0:.1f}s log={os.path.relpath(log, ROOT)}")
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
