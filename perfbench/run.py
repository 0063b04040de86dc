#!/usr/bin/env python3
"""Outside-in benchmark for the graft serving stack and the query battery.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload battery --seed 1 --trace 1
    python3 perfbench/run.py --workload battery --sf-dir <sf tables> --queries all --trace 1
    python3 perfbench/run.py --selftest

Workloads: serve_read, serve_mixed, battery (see perfbench/NOTES.md).

Run from the repository root. The first run compiles the program
(src/main/scala) and the harness (perfbench/scala) with the Scala compiler
that ships among the Spark jars, into $CARGO_TARGET_DIR or .bench_build;
later runs reuse the build while the sources are unchanged. The harness
runs in one JVM, writes a record under .bench_runs/records (never
overwriting one) and prints its metrics; the last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics BENCHMARK.json names (--trace 0) or its per-layer
metrics (--trace 1). The exit code is 0 only when every correctness check
passed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
RUNS = ROOT / ".bench_runs"
# the serving workloads end well inside 180 s; a full battery pass over
# the sf0.1 tables takes minutes
JVM_TIMEOUT_S = {"battery": 1500}
HEAP = "3g"
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


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    fail("no Spark jars: set SPARK_HOME")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "scala").glob("*.scala"))
    if not main:
        fail("no program sources under src/main/scala (run from a full checkout)")
    return main, bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(jars):
    """Compile the program, then the harness, unless up-to-date builds exist."""
    main, bench = sources()
    resources = [r for r in sorted((ROOT / "src" / "main" / "resources").rglob("*")) if r.is_file()]
    main_stamp = digest(main + resources)
    stamps = {"classes": main_stamp, "bench": main_stamp + "-" + digest(bench)}
    out = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = (out if out.is_absolute() else ROOT / out) / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    scalac = ["java", "-Xmx3g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
              "-usejavacp", "-nowarn"]
    with open(out / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for name, srcs, extra in (("classes", main, []),
                                  ("bench", bench, ["-classpath", str(out / "classes")])):
            dest, stamp = out / name, out / f"{name}.stamp"
            if stamp.is_file() and stamp.read_text() == stamps[name]:
                continue
            t0 = time.time()
            stamp.unlink(missing_ok=True)
            shutil.rmtree(dest, ignore_errors=True)
            dest.mkdir()
            args = out / f"{name}.args"
            args.write_text("\n".join(str(p) for p in srcs) + "\n")
            r = subprocess.run(scalac + extra + ["-d", str(dest), f"@{args}"],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                fail(f"compiling {name} failed")
            stamp.write_text(stamps[name])
            print(f"perfbench: built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, stamps["bench"]


def git_sha():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def other_jvms():
    """Java processes already running when the run starts (a contended box)."""
    n = 0
    for p in Path("/proc").glob("[0-9]*"):
        try:
            exe = (p / "cmdline").read_bytes().split(b"\0")[0]
        except OSError:
            continue
        if exe.endswith(b"java") and int(p.name) != os.getpid():
            n += 1
    return n


def bench_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ([m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--sf-dir", default=str(BENCH / "data" / "sf0.001"),
                    help="battery: directory of the sf parquet tables")
    ap.add_argument("--queries", default=str(BENCH / "battery_subset.txt"),
                    help="battery: a file of query names, a comma-separated list, or 'all'")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    others = other_jvms()
    jars = spark_jars()
    built, stamp = build(jars)
    e2e, per_layer = bench_spec() if not a.selftest else ([], [])

    run_id = f"{int(time.time() * 1000)}-{os.getpid()}"
    work = RUNS / "work" / run_id
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (RUNS / "logs").mkdir(parents=True, exist_ok=True)
    log = RUNS / "logs" / f"{a.workload or 'selftest'}-seed{a.seed}-trace{a.trace}-{run_id}.log"
    cp = os.pathsep.join([str(built / "bench"), str(built / "classes"),
                          str(ROOT / "src" / "main" / "resources"), f"{jars}/*"])
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"])
    if a.selftest:
        cmd += ["--workload", "selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--records", str(RUNS / "records"),
                "--work", str(work),
                "--stamp-git_sha", git_sha(), "--stamp-source_digest", stamp,
                "--stamp-other_jvms_at_start", str(others)]
    if a.workload == "battery":
        queries = a.queries
        if Path(queries).is_file():
            queries = ",".join(l.strip() for l in Path(queries).read_text().splitlines()
                               if l.strip() and not l.startswith("#"))
        expected = BENCH / "expected" / f"battery-{Path(a.sf_dir).name}.txt"
        cmd += ["--sf-dir", a.sf_dir, "--expected", str(expected)]
        if queries != "all":
            cmd += ["--queries", queries]
    record = None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S.get(a.workload, 170))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded its time limit (log: {log})", 3)
    shutil.rmtree(work, ignore_errors=True)
    for line in stdout.splitlines():
        if line.startswith("record "):
            record = Path(line[len("record "):])
        else:
            print(line)
    if a.selftest:
        sys.exit(proc.returncode)
    if record is None or not record.is_file():
        fail(f"the run wrote no record (exit {proc.returncode}, log: {log})")
    rec = json.loads(record.read_text())
    print(f"record {record.relative_to(ROOT)}")
    source = rec["layer"] if a.trace else rec["e2e"]
    wanted = per_layer if a.trace else e2e
    missing = [m for m in wanted if m not in source]
    if missing:
        fail(f"workload {a.workload} does not measure {missing}")
    out = {"correct": bool(rec["correct"]), "attempted": max(1, int(rec["attempted"])),
           "failed": int(rec["failed"]),
           "metrics": {m: source[m] for m in wanted}}
    print(json.dumps(out))
    sys.exit(0 if rec["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
