#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into perfbench/target; later runs
reuse that build while the sources are unchanged. Each run works in
.bench_build/runs/<workload>[-trace], which is wiped before it starts and
keeps the run's record.json (and spans.json for a traced run) afterwards.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ["batch_dedup", "hot_buckets", "append_stream", "probe_index"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
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


def source_digest():
    """sha1 over every engine and benchmark source file and the build files."""
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the last build was of the same sources."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    try:
        r = subprocess.run(["sbt", "-batch"] + opts + ["writeClasspath"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    with open(CLASSPATH) as cp:
        return cp.read().strip()


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def check_result(line, trace):
    """The result line must carry exactly the metrics BENCHMARK.json names."""
    res = json.loads(line)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result keys {sorted(res)}", 3)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if want != got:
            fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                 f"extra {sorted(set(got) - set(want))}, "
                 f"unit mismatch {sorted(k for k in want if k in got and want[k] != got[k])}", 3)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
             "run from a checkout of the repository")
    digest = source_digest()
    cp = build(digest)

    scratch = os.path.join(BUILD, "runs", a.workload + ("-trace" if a.trace == "1" else ""))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--scratch", scratch, "--commit", git_commit(), "--source", digest])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"no result line (exit {proc.returncode})", 3)
    res = check_result(lines[-1], a.trace == "1")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    for k, v in res["metrics"].items():
        print(f"  {k:<36} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    print(lines[-1])
    sys.exit(proc.returncode if proc.returncode != 0 else (0 if res["correct"] else 1))


if __name__ == "__main__":
    main()
