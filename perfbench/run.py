#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 20 --trace 0

The first run compiles the engine's sources and the harness with sbt into
`.bench_build/target/`; later runs reuse those classes while the sources are
unchanged. Each run starts one JVM, runs the workload, checks its outputs,
and prints the harness's metric lines followed, as the last line, by one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 1`
reports the per-layer metrics instead of the end-to-end ones and leaves the
spans in `.bench_build/trace/<workload>.spans.jsonl`.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("serve_hot", "tiering_cycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same set to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def descendants(pid: int) -> list:
    """Child processes of `pid`, recursively, from /proc."""
    kids = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def kill_tree(proc) -> None:
    for pid in [proc.pid] + descendants(proc.pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.communicate()


def run_tree(cmd, timeout, **kw):
    """Runs `cmd`; on timeout or SIGTERM kills it with every process it
    started (sbt's launcher script starts a JVM child) and waits for them."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)

    def on_term(signum, frame):
        kill_tree(proc)
        sys.exit(128 + signum)

    previous = signal.signal(signal.SIGTERM, on_term)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_tree(proc)
        raise
    finally:
        signal.signal(signal.SIGTERM, previous)
    return proc.returncode, out


def source_fingerprint() -> str:
    """Hash of every input to the build: engine and harness sources."""
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for d in (ROOT / "project", ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    h = hashlib.sha256()
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build() -> list:
    """Compiles engine + harness into .bench_build/target once per source
    state; returns the classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    fp = source_fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        classpath = cp_file.read_text().strip().split(os.pathsep)
        if all(Path(p).exists() for p in classpath):
            return classpath
    BUILD.mkdir(parents=True, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Dperfbench.classpath={cp_file}",
           "compile", "writeClasspath"]
    t0 = time.time()
    with open(BUILD / "build.log", "w") as log:
        try:
            rc, _ = run_tree(cmd, BUILD_TIMEOUT_S, cwd=HERE, stdout=log,
                              stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {BUILD / 'build.log'}")
    if rc != 0 or not cp_file.exists():
        fail(f"build failed (exit {rc}); see {BUILD / 'build.log'}")
    stamp.write_text(fp)
    print(f"# built engine and harness in {time.time() - t0:.1f}s")
    return cp_file.read_text().strip().split(os.pathsep)


def expected_metrics(trace: bool):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala)", 2)
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json is missing", 2)

    classpath = build()
    work = BUILD / "work" / str(os.getpid())
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # No -Xms, and the serial collector: it sizes the heap from the live
    # data after each collection rather than from GC timing, so the peak
    # RSS follows what the program holds and repeats between runs.
    cmd = (["java", "-Xmx1536m", "-XX:+UseSerialGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work-dir", str(work)])
    log_path = BUILD / f"{args.workload}.stderr.log"
    try:
        with open(log_path, "w") as log:
            rc, stdout = run_tree(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=log, text=True)
        for spans in (work / "trace").glob("*.jsonl"):
            (BUILD / "trace").mkdir(exist_ok=True)
            shutil.move(str(spans), str(BUILD / "trace" / spans.name))
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S}s; see {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.strip().splitlines()
    if rc != 0 or not lines:
        fail(f"harness exited {rc}; see {log_path}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"harness did not end with a JSON result; see {log_path}")
    want = expected_metrics(args.trace == "1")
    got = [(k, v.get("unit")) for k, v in result["metrics"].items()]
    if sorted(got) != sorted(want) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness metrics differ from BENCHMARK.json: "
             f"{sorted(set(got) ^ set(want))}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
