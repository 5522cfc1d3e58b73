#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <engine_read|pretrain_chain> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft's main
sources together with the harness (perfbench/build.sbt); later runs
reuse the build while no source changed. The run works in a fresh
directory under .bench_work/ and deletes it at the end; the full run
record (warm-up readings, checks, host, and spans when traced) is kept
in perfbench/out/. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). A traced run also
reports the tracing overhead: its own end-to-end readings minus the
median of the untraced runs of the same workload and the same sources
recorded in perfbench/out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench.classpath")
BUILD_LOG = os.path.join(HERE, "target", "build.log")
RUN_LIMIT_S = 170  # every run must end within 180 s once built

WORKLOADS = ("engine_read", "pretrain_chain")

# same list as the program's build: Spark on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_hash():
    """Content hash of what a run compiles: graft's main sources, the
    harness and its build."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SOURCES, os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(filenames)]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(sources):
    """Compile with sbt unless the cached classpath was built from
    `sources`, the source hash."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            built_from, _, classpath = f.read().partition("\n")
        if built_from == sources:
            return classpath.strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(BUILD_LOG, "w") as log:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=800)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"build failed (sbt exit {p.returncode}); see {BUILD_LOG}\n")
        sys.exit(3)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(sources + "\n" + lines[-1])
    return lines[-1]


def driver_memory():
    """ROADMAP's tier-1 rule: half of MemTotal in GB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def oracle_check(work):
    """tools/check.py: DuckDB oracle SQL of `_compact` and `_e2e` against
    the verified pass. Returns the lines of every failed comparison."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         os.path.join(work, "run", "data"), os.path.join(work, "run", "check")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
        text=True, timeout=120)
    if p.returncode == 0:
        return []
    failed = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    return failed or [f"tools/check.py exit {p.returncode}: {p.stdout[-500:]}"]


def tracing_overhead(out_dir, workload, sources, traced):
    """Traced reading minus the median untraced reading, per metric, over
    the untraced records made from the same sources."""
    untraced = []
    for n in sorted(os.listdir(out_dir)):
        if n.startswith(workload + "-seed") and n.endswith("-trace0.json"):
            with open(os.path.join(out_dir, n)) as f:
                r = json.load(f)
            if r.get("sources") == sources:
                untraced.append(r["end_to_end"])
    if not untraced:
        return {"untraced_runs": 0}
    over = {"untraced_runs": len(untraced)}
    for k, v in traced.items():
        vals = [u[k] for u in untraced if isinstance(u.get(k), (int, float))]
        if vals and isinstance(v, (int, float)):
            over[k] = v - statistics.median(vals)
    return over


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SOURCES, "graft", "core", "Graft.scala")):
        sys.stderr.write(f"graft sources not found under {PROGRAM_SOURCES}\n")
        sys.exit(2)
    spec = load_spec()
    sources = source_hash()
    classpath = build(sources)

    started = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{driver_memory()}", f"-Xms{driver_memory()}", "-Xmn512m",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "run"), "--out", record_path])
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write("run exceeded its time limit\n")
                sys.exit(4)
        if rc != 0 or not os.path.exists(record_path):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            sys.stderr.write(f"benchmark JVM failed (exit {rc}):\n{tail}\n")
            sys.exit(5)
        with open(record_path) as f:
            rec = json.load(f)
        failures = list(rec["failures"])
        failed = int(rec["failed"])
        if a.workload == "pretrain_chain":
            problems = oracle_check(work)
            rec["oracle_problems"] = problems
            failures += problems
            failed += 1 if problems else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there

    kind = "per_layer" if a.trace else "end_to_end"
    readings = rec[kind]
    metrics = {}
    for m in spec[kind]:
        v = readings.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    measured = all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                   for v in metrics.values())
    end_to_end_ok = all(isinstance(rec["end_to_end"].get(m["name"]), (int, float))
                        and rec["end_to_end"][m["name"]] > 0 for m in spec["end_to_end"])
    attempted = int(rec["attempted"])
    correct = failed == 0 and measured and end_to_end_ok and attempted > 0
    rec["failures"] = failures[:20]
    rec["sources"] = sources

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if a.trace:
        rec["tracing_overhead"] = tracing_overhead(out_dir, a.workload, rec["sources"],
                                                   rec["end_to_end"])
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    d = rec["detail"]
    print(f"graft benchmark  workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} nproc={rec['host']['nproc']} "
          f"mem_total_kb={rec['host']['mem_total_kb']} jvm={rec['host']['jvm']} "
          f"spark={rec['host']['spark']}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<24} {rec['end_to_end'].get(m['name'])} {m['unit']}")
    print(f"  {'error_rate':<24} {failed / max(1, attempted)} ratio")
    for k in ("index_build_s", "get_p50_s", "get_tail_s", "list_p50_s", "list_tail_s",
              "cold_pass_s", "pretrain_ingest_s", "pretrain_compact_s", "pretrain_e2e_s"):
        if k in d:
            print(f"  {k:<24} {d[k]} s")
    if "setup_edit_visible_s" in d:
        print(f"  {'setup_edit_visible_s':<24} {d['setup_edit_visible_s']} s")
    if "reads_per_s" in d:
        print(f"  {'reads_per_s':<24} {d['reads_per_s']} 1/s")
    if "tracing_overhead" in rec:
        print(f"  tracing_overhead         {json.dumps(rec['tracing_overhead'])}")
    for msg in failures[:5]:
        print(f"  FAILED: {msg}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
