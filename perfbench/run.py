#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 45 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (cached under .bench_build/ until a
source file changes); every run then starts one JVM on the harness,
which writes its raw measurements to a file, and prints as the last
line of stdout one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (the same workload and seed, with spans
and Spark listener totals recorded). The line before it carries the
run context; the full result, spans included, is kept under
.bench_build/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("curation", "ingest_serve", "relational")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"
# the JDK 17 module opens Spark needs outside spark-submit, as graft's
# build.sbt passes them to its forked runs
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return [f for f in files if os.path.isfile(f)]


def tree_digest(files, rel):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, rel).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_checkout():
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(HERE, "build.sbt"), DATA):
        if not os.path.exists(need):
            die(f"not a graft checkout: {os.path.relpath(need, ROOT)} is missing")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} is not on PATH")


def build(bdir):
    """Compile graft and the harness; return the runtime classpath."""
    fp = tree_digest(sources(), ROOT)
    stamp = os.path.join(bdir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("sources") == fp:
            return cached["classpath"]
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        fh.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (see {os.path.relpath(log, ROOT)})", 1)
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"sources": fp, "classpath": cp}, fh)
    return cp


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return ",".join(fh.read().split()[:3])
    except OSError:
        return ""


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def expected_file(workload, work):
    """The committed digests as the harness reads them: name<TAB>sha."""
    src = os.path.join(HERE, "expected", f"{workload}.json")
    if not os.path.exists(src):
        return ""
    with open(src) as fh:
        exp = json.load(fh)
    path = os.path.join(work, "expected.tsv")
    with open(path, "w") as fh:
        for name, e in sorted(exp["queries"].items()):
            fh.write(f"{name}\t{e['sha']}\n")
    return path


def run_harness(cp, args, work, deadline, mode="run", data=DATA):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = os.cpu_count() or 1
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", "--mode", mode,
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", out,
              "--expected", expected_file(args.workload, work) if mode == "run" else "",
              "--cores", str(cores),
              "--launch-ms", str(int(time.time() * 1000))])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None, log, "timed out"
        except BaseException:
            p.kill()
            p.wait()
            raise
    if p.returncode != 0 or not os.path.exists(out):
        return None, log, f"harness exited with {p.returncode}"
    with open(out) as fh:
        return json.load(fh), log, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=45)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    check_checkout()
    bdir = build_dir()
    cp = build(bdir)
    start = time.time()
    load_start = loadavg()
    work = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw, log, err = run_harness(cp, args, work, start + RUN_TIMEOUT_S)
        logs = os.path.join(bdir, "logs")
        os.makedirs(logs, exist_ok=True)
        shutil.copy(log, os.path.join(logs, f"{args.workload}-s{args.seed}-t{args.trace}.log"))
    finally:
        # every run gets its own java.io.tmpdir and Spark local dir; the
        # format round trips and index builds leave graft-* dirs there
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        die(f"{err} (log: {os.path.relpath(os.path.join(logs, os.path.basename(log)), ROOT)})", 1)

    cores = raw["context"]["cores"]
    if args.trace:
        values = metrics.per_layer(raw, cores)
        units = unit_map("per_layer")
    else:
        values = metrics.end_to_end(raw)
        units = unit_map("end_to_end")
    missing = sorted(set(units) - set(values))
    if missing:
        die(f"metrics not produced: {missing}", 1)
    attempted = int(raw["attempted"])
    failed = int(raw["failed"])
    context = dict(raw["context"], revision=revision(),
                   sources=tree_digest(sources(), ROOT),
                   data=tree_digest(sorted(os.path.join(DATA, f) for f in os.listdir(DATA)), DATA),
                   loadavg_before_jvm=load_start, loadavg_after=loadavg(),
                   wall_s=time.time() - start, seconds=args.seconds,
                   failed_frac=failed / attempted, failures=raw["failures"])
    if args.trace:
        context["percentiles"] = metrics.percentile_detail(raw)
    else:
        # reported, not gated (see metrics.end_to_end)
        context["warm_s"] = values["warm_s"]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    save(bdir, args, raw, context, result)
    print(json.dumps({"context": context}))
    print(json.dumps(result))


def unit_map(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def save(bdir, args, raw, context, result):
    """Keep the full result (and, traced, the spans) beside the others;
    a traced run reports its overhead against the untraced run of the
    same workload and seed when there is one."""
    d = os.path.join(bdir, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-s{args.seed}"
    if args.trace:
        other = os.path.join(d, f"{name}-t0.json")
        if os.path.exists(other):
            with open(other) as fh:
                untraced = json.load(fh)
            if untraced["context"]["sources"] == context["sources"]:
                context["trace_overhead_s"] = {
                    k: metrics.end_to_end(raw)[k] - metrics.end_to_end(untraced["raw"])[k]
                    for k in ("cold_s", "warm_s")}
    with open(os.path.join(d, f"{name}-t{args.trace}.json"), "w") as fh:
        json.dump({"context": context, "result": result, "raw": raw}, fh)


if __name__ == "__main__":
    main()
