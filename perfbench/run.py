#!/usr/bin/env python3
"""graft benchmark: times graft.pipeline.Main end to end and the kNN join
in-process, on seeded generated inputs, and checks their outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. Workloads: pipeline, knn_sparse
(see BENCHMARK.json). The first run builds the program with its own sbt
build and the benchmark against it (under a minute); later runs reuse that
build while the sources are unchanged. Inputs are generated per
(workload, seed) and cached under .bench_build/work/fixtures, keyed by the
hash of the sources that also decides a rebuild.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics, with the units BENCHMARK.json declares. --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run, whose
spans land in .bench_build/work/traces and whose self-time table goes to
stderr. The exit code is non-zero when a build fails, an output check
fails or the metrics differ from those BENCHMARK.json declares.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    stamp_file = BUILD / "build.stamp"
    classpath = BUILD / "classpath.txt"
    if classpath.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath.read_text().split("\n")
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    (BUILD / "tmp").mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not classpath.exists():
        sys.exit(f"build failed (sbt exit {r.returncode})")
    stamp_file.write_text(stamp)
    return classpath.read_text().split("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}; run from a full checkout")
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    stamp = source_stamp()
    cp = build(stamp)
    work = BUILD / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx1536m", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", os.pathsep.join(cp), "graftbench.Runner",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work),
        # the generated inputs are keyed by the sources that write them
        "--stamp", stamp[:16]]
    # its own process group, so a timeout or a signal stops every JVM it started
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit("stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        stop()
    try:  # stragglers of the group, if any
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    lines = [l for l in out.splitlines() if l.strip()]
    if not (lines and lines[-1].startswith("{")):
        for l in lines:
            print(l, file=sys.stderr)
        sys.exit(p.returncode or 1)
    result = json.loads(lines[-1])
    if set(result["metrics"]) != set(units):
        sys.exit(f"metrics {sorted(result['metrics'])} differ from those BENCHMARK.json declares: {sorted(units)}")
    for name, m in result["metrics"].items():
        m["unit"] = units[name]
    # a failed output check still prints its result, with correct=false
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
