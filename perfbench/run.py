#!/usr/bin/env python3
"""Harvest-first benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository and
the harness (sbt, offline) into `target/` directories and records the
classpath and the JDK module flags of the build's javaOptions under
`.bench_build/`; later runs reuse them while the sources are unchanged. Each run starts one JVM with a `local[N]` Spark session
(N = the CPUs this process may use), runs the workload and checks every
output. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). A failed output check prints
`"correct": false` and exits 1. The run record — nproc, load average
before and after, the steal share, -Xmx, the Spark conf, the seed, the source digest —
goes to `.bench_build/runs/`. See perfbench/README.md for the workloads,
metrics and checks.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "tables", "sf0.01")
WORKLOADS = ("harvest_resync", "catalog_stream")
XMX = "2g"
# The throughput collector grows the heap the same way run after run: under
# G1 the JVM's peak RSS varied by ~10% between runs, under it by ~2%.
GC = "-XX:+UseParallelGC"
RUN_TIMEOUT_S = 170
# the JVM stops starting cycles this long before the run's timeout, which
# leaves time for its last cycle's checks, the result and its exit
DEADLINE_MARGIN_S = 25
BUILD_TIMEOUT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return None


def cpu_ticks():
    """The machine's (total, steal) CPU ticks, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields[:8]), fields[7]
    except (OSError, ValueError, IndexError):
        return None


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_files():
    """Every file the build reads."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and always wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out, err


def build():
    """Compile the repository and the harness; return the runtime classpath,
    the JDK module flags of the build's javaOptions and the source digest."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    files = source_files()
    digest = source_digest(files)
    cp_file = os.path.join(BUILD, "classpath.txt")
    opens_file = os.path.join(BUILD, "jdk_opens.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    if all(os.path.exists(f) for f in (cp_file, opens_file, stamp_file)):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g, open(opens_file) as h:
                    return g.read().strip(), h.read().split(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath", "show javaOptions"]
    t0 = time.time()
    try:
        code, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                                   stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S}s")
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    # `show` lists one option per "[info] * <option>" line; only the module
    # flags carry over, since the build's other options name paths outside
    # the checkout
    shown = re.findall(r"^\[info\] \* (.+)$", out, re.M)
    opens = [f"{flag}={mod}" for flag, mod in zip(shown, shown[1:])
             if flag in ("--add-opens", "--add-exports")]
    if not opens:
        fail("build printed no JDK module flags")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(opens_file, "w") as f:
        f.write("\n".join(opens))
    with open(stamp_file, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, opens, digest


def expected_created_keys(path):
    """The cold harvest's create set, computed apart from Spark: every
    published (F-status) order key, read from the parquet with DuckDB."""
    import duckdb
    rows = duckdb.sql(
        f"SELECT o_orderkey FROM read_parquet('{DATA}/orders.parquet') "
        "WHERE o_orderstatus = 'F' ORDER BY 1").fetchall()
    with open(path, "w") as f:
        f.write("\n".join(str(r[0]) for r in rows) + "\n")


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    cp, opens, digest = build()
    t_start = time.time()  # a run's own budget starts once the build is done

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cpus()
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", DATA, "--work", work, "--cpus", str(n)]
    # a traced run measures the other workload's layers too, so the JVM
    # always gets the checks of both
    keys = os.path.join(work, "expected_created.txt")
    expected_created_keys(keys)
    jvm_args += ["--expected-keys", keys, "--pins", os.path.join(BENCH, "pins.json")]
    cmd = (["java"] + opens +
           [f"-Xmx{XMX}", GC, "-Dsun.net.httpserver.nodelay=true",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-cp", cp, "graft.perfbench.Main"] + jvm_args)

    load_before = loadavg()
    ticks_before = cpu_ticks()
    budget = RUN_TIMEOUT_S - (time.time() - t_start)
    cmd += ["--deadline", f"{budget - DEADLINE_MARGIN_S:.1f}"]
    try:
        code, out, _ = run_group(cmd, budget, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"workload timed out after {budget:.0f}s", 1)
    load_after = loadavg()
    ticks_after = cpu_ticks()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited {code}", 1)
    res = json.loads(lines[-1])

    correct = bool(res["correct"])
    values = res["per_layer"] if args.trace else res["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing and correct:
        fail(f"metrics not produced: {missing}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared if m["name"] in values}

    record = dict(res)
    record.update({
        "nproc": n, "loadavg_before": load_before, "loadavg_after": load_after,
        # the share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": ((ticks_after[1] - ticks_before[1]) / max(1, ticks_after[0] - ticks_before[0])
                       if ticks_before and ticks_after else None),
        "xmx": XMX, "gc": GC, "git_commit": git_commit(), "source_sha256": digest,
        "wall_s": time.time() - t_start,
    })
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    rec_path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    summary = {"workload": args.workload, "seed": args.seed, "record": os.path.relpath(rec_path, ROOT),
               "checks": res["checks"], "errors": res["errors"][:5]}
    if args.trace:
        summary["layer_self_s"] = res["span_self_s"]
        summary["tracing_overhead_frac"] = values.get("trace.overhead_frac")
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
