#!/usr/bin/env python3
"""graft benchmark: one command per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark's Scala code from source (sbt, offline); later runs reuse the build
while the sources are unchanged. Each run gets its own scratch root
(cache dir, java.io.tmpdir, Spark local dirs, graph store), measures
what graft left behind there, then deletes it. The full result (every
metric with its sample count, outcomes per op type, environment) is kept
under .perfbench/results/; the last stdout line is the summary JSON:
end-to-end metrics untraced, per-layer metrics traced.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# The warehouse corpus the benchmark ships (read-only), and where each
# workload's reference answers live.
CORPUS = {"warehouse_mini": os.path.join(HERE, "corpus", "sf0.001")}
REFERENCE = os.path.join(HERE, "reference")
# Driver heap, fixed (-Xms = -Xmx) so GC heap sizing does not add to the spread.
HEAP = "3g"
# A run must end within 180 s, build excluded.
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the benchmark code with sbt; return the runtime classpath."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        die("graft's sources (src/main/scala/graft) are not here; run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    digest = source_hash()
    cp_file = os.path.join(build_dir, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "sbt.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {rc}); log: {log}", 1)
    for old in glob.glob(os.path.join(build_dir, "classpath-*.txt")):
        os.remove(old)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cps[-1].strip(), digest


def tree_size(path):
    """(entries directly under path, total MB below it)."""
    if not os.path.isdir(path):
        return 0, 0.0
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return len(os.listdir(path)), total / 1048576.0


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (None where it is not there)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings: a run on a busy host reads slow for that reason."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_jvm(args, classpath, scratch):
    for d in ("cache", "tmp", "local", "work"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_CACHE_DIR"] = os.path.join(scratch, "cache")
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    env.pop("GRAFT_GRAPH_TRACE", None)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"-Dperfbench.reference={os.path.join(REFERENCE, args.workload + '.json')}",
            f"-Dperfbench.record={str(args.record).lower()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(scratch, "work")]
    if args.workload in CORPUS:
        cmd += ["--corpus", CORPUS[args.workload]]
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=os.path.join(scratch, "work"), env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        rc = "timeout"
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM, which main turns into SystemExit: no JVM outlives the run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result = os.path.join(scratch, "work", "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as fh:
            tail = fh.read().splitlines()[-60:]
        sys.stderr.write("\n".join(tail) + "\n")
        return None, rc
    with open(result) as fh:
        res = json.load(fh)
    spans = os.path.join(scratch, "work", "spans.jsonl")
    return (res, spans if os.path.exists(spans) else None, log), rc


def spark_version(classpath):
    m = re.search(r"spark-core_[0-9.]+-([0-9][^/:]*?)\.jar", classpath)
    return m.group(1) if m else "unknown"


def main():
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="warehouse_mini: write the reference fingerprints instead of checking them")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        die("BENCHMARK.json is not here; run from the repository root")
    with open(spec_file) as fh:
        spec = json.load(fh)
    listed = {w["name"] for w in spec["workloads"]}
    if args.workload not in listed:
        die(f"unknown workload {args.workload}; known: {sorted(listed)}")
    if args.workload in CORPUS and not os.path.isdir(CORPUS[args.workload]):
        die(f"the warehouse corpus {CORPUS[args.workload]} is missing")

    classpath, digest = build()
    scratch = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        ticks = cpu_ticks()
        out, rc = run_jvm(args, classpath, scratch)
        steal = steal_share(ticks, cpu_ticks())
        if out is None:
            die(f"benchmark JVM failed ({rc})", 1)
        res, spans, log = out
        # What the run left behind, measured before the root is deleted.
        entries, mb = tree_size(os.path.join(scratch, "tmp"))
        res["metrics"]["tmp.leaked_entries"] = {"value": entries, "unit": "count", "samples": 1}
        res["metrics"]["tmp.leaked_mb"] = {"value": mb, "unit": "MB", "samples": 1}
        entries, mb = tree_size(os.path.join(scratch, "cache"))
        res["metrics"]["Materialized.disk_entries"] = {"value": entries, "unit": "count", "samples": 1}
        res["metrics"]["Materialized.disk_mb"] = {"value": mb, "unit": "MB", "samples": 1}
        res["env"] = {
            "git_commit": git_commit(), "source_hash": digest, "nproc": os.cpu_count(),
            "driver_heap": HEAP, "seed": args.seed, "seconds": args.seconds,
            "corpus": os.path.relpath(CORPUS[args.workload], ROOT) if args.workload in CORPUS else None,
            "spark_version": spark_version(classpath), "python": platform.python_version(),
            "cache_state": "empty: fresh GRAFT_CACHE_DIR, java.io.tmpdir and SPARK_LOCAL_DIRS per run",
            "cpu_steal_share": steal,
        }
        keep = os.path.join(STATE, "results", args.workload)
        os.makedirs(keep, exist_ok=True)
        stem = os.path.join(keep, f"seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
        if spans:
            shutil.copyfile(spans, stem + ".spans.jsonl")
        shutil.copyfile(log, stem + ".log")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = res["metrics"]
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    names = list(units)
    if not args.trace:
        missing = [n for n in names if n not in metrics]
        if missing:
            die(f"no sample for {', '.join(missing)}: every timed operation failed", 1)
    # the summary's metrics first, then the rest this mode measured: the
    # workload-named end-to-end metrics untraced, every layer traced
    shown = names + [n for n in metrics if n not in units and (args.trace or "." not in n)]
    for n in shown:
        # a layer this workload does not exercise reads 0 (traced runs only)
        m = metrics.get(n, {"value": 0, "unit": units.get(n), "samples": 0})
        above = res["info"].get(f"{n}.samples_above")
        extra = f", {above} above" if above is not None else ""
        print(f"# {n} = {m['value']} {m['unit']} (n={m['samples']}{extra})")
    for op, o in res["ops"].items():
        print(f"# ops {op}: attempted {o['attempted']} failed {o['failed']} {json.dumps(o['errors'])}")
    print(f"# env {json.dumps(res['env'], sort_keys=True)}")
    summary = {
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n]["value"] if n in metrics else 0, "unit": units[n]}
                    for n in names},
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
