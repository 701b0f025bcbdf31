#!/usr/bin/env python3
"""Benchmark of the bigram engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
harness from source into `.bench_build/` (see `build.sh`); later calls
reuse the build while the sources are unchanged. Each call makes its
inputs from the seed, sets up a Spark session, times the workload for the
given seconds, checks every output against an oracle, and prints one line
per metric followed by a JSON object as the last line of standard output.
The full record, stamped with host, source tree, JVM, Spark, seed and input
shape, goes to `.bench_build/results/`; with `--trace 1` the spans go
beside it. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("zip-wholefile-hadoop", "text-lines-tsv")
TABLES = Path("perfbench/fixtures/sf0.1")  # the sf0.1 test tables the query mix reads
JVM_HEAP = "3g"
JVM_YOUNG = "384m"       # fixed young generation: collections happen at the same points every run
JVM_TIMEOUT_S = {0: 170, 1: 140}  # one call must end within 180 s; a traced one then runs the DuckDB oracle
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_checked(cmd, timeout, log, env=None):
    """Runs `cmd` to completion with output to `log`. Kills its whole
    process group on timeout, or when this process is told to stop, and
    waits for it. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        finally:
            for s, h in previous.items():
                signal.signal(s, h)


def source_files(root):
    files = [p for d in ("src/main/scala", "src/main/resources", "perfbench/src")
             for p in (root / d).rglob("*") if p.is_file()]
    return sorted(files + [root / "perfbench/build.sh"])


def source_hash(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build(root, build_dir, jars):
    """Compiles engine and harness unless the last build is of these sources."""
    digest = source_hash(root)
    classes, stamp = build_dir / "classes", build_dir / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    stamp.unlink(missing_ok=True)
    code = run_checked(["bash", "perfbench/build.sh", str(classes), str(jars)], BUILD_TIMEOUT_S,
                       build_dir / "build.log")
    if code != 0:
        fail(f"build failed ({code}); see {build_dir / 'build.log'}")
    stamp.write_text(digest)
    return classes, digest


def git_stamp(root):
    def git(*args):
        try:
            r = subprocess.run(["git", *args], cwd=root, capture_output=True, text=True, timeout=20)
            return r.stdout.strip() if r.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            return None
    head = git("rev-parse", "HEAD")
    status = git("status", "--porcelain", "--", "src", "perfbench") if head else None
    return {"git_head": head, "git_dirty": bool(status) if head else None}


def host_steal_s():
    """CPU seconds the hypervisor gave to other guests (all CPUs)."""
    try:
        return int(Path("/proc/stat").read_text().split("\n")[0].split()[8]) / 100
    except (OSError, IndexError, ValueError):
        return 0.0


def host_stamp():
    mem_kb = 0
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 1048576, 1),
            "machine": platform.machine(), "python": platform.python_version()}


def declared_metrics(root, trace):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


def run_jvm(root, args, classes, jars, work):
    """Runs one workload in its own JVM, then checks its share of the query
    mix against DuckDB (traced runs only). Returns the JVM's result, with
    the oracle's failures added."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
              "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace), str(work),
              str(result_file), str(root / TABLES)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    steal0 = host_steal_s()
    code = run_checked(cmd, JVM_TIMEOUT_S[args.trace], work / "jvm.log", env=env)
    steal = host_steal_s() - steal0
    if code != 0 or not result_file.is_file():
        fail(f"benchmark JVM exited with {code}; see {work / 'jvm.log'}")
    res = json.loads(result_file.read_text())
    res["host_steal_s"] = steal
    if args.trace:
        import mix_oracle
        t0 = time.perf_counter()
        problems = mix_oracle.check(str(root / TABLES), res["mix_outputs"])
        res["setup"]["mix_oracle_s"] = time.perf_counter() - t0
        res["attempted"] += len(res["mix"])
        res["failed"] += len(problems)
        res["failures"] += [f"{q} oracle: {p}" for q, p in problems.items()]
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src/main/scala").is_dir():
        fail("run from the repository root: src/main/scala not found")
    if not (root / TABLES).is_dir():
        fail(f"no query-mix tables at {TABLES}")
    jars = spark_jars()
    build_dir = root / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    classes, digest = build(root, build_dir, jars)

    work = build_dir / "work" / a.workload
    res = run_jvm(root, a, classes, jars, work)
    failures, attempted, failed = res["failures"], res["attempted"], res["failed"]

    metrics, missing = {}, []
    for m in declared_metrics(root, a.trace):
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and not missing

    record = dict(res, failed_frac=failed / max(attempted, 1), correct=correct, missing=missing,
                  stamp=dict(host_stamp(), **git_stamp(root), source_sha256=digest,
                             host_steal_s=res["host_steal_s"]))
    results = build_dir / "results"
    results.mkdir(exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    (results / f"{name}.json").write_text(json.dumps(record, indent=1))
    if a.trace:
        shutil.copy(work / "spans.json", results / f"{name}-spans.json")

    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{a.workload} failed_frac = {record['failed_frac']:.6g} ratio "
          f"({failed} of {attempted} operations)")
    for f in failures:
        print(f"{a.workload} FAILED {f}")
    for m in missing:
        print(f"{a.workload} MISSING metric {m}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
