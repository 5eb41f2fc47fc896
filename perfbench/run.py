#!/usr/bin/env python3
"""End-to-end benchmark of the `graft.Main` sequence CLI.

Each measured invocation is a fresh JVM running the unchanged
`graft.Main <config>` on inputs generated here from the seed. Every number
is taken from outside the program: the process clock, the child's rusage,
the stub's request log, the output directories and, in a separate traced
invocation, Spark's own event log.

    python3 perfbench/run.py --workload etl_api_sequence --seed 1 \
        --seconds 20 --trace 0

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import workloads  # noqa: E402

HEAP = "2g"
MAX_RUN_S = 150.0            # stay well inside the 180 s per-run limit
INVOCATION_TIMEOUT_S = 120.0
READY_MARKER = "Initialized BlockManager"
SETUP_PROBES = 2
SETUP_PROBE = "__perfbench_setup_probe__"   # selects no pipeline
END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "records_per_s": "records/s",
                    "peak_rss_mb": "MB"}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark jar directory the build file compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars at {jars!r}")
    return jars


def build(build_dir, jars):
    """Compile src/main/scala with the Scala compiler shipped among the
    Spark jars (the same classpath the build file uses). Output is keyed by
    a hash of the sources, so a checkout builds once."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no sources under src/main/scala")
    res_dir = os.path.join(ROOT, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(res_dir, "**"), recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    t0 = time.perf_counter()
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", tmp, "-cp", cp] + srcs,
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:   # a concurrent run in this checkout finished first
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"compiled in {time.perf_counter() - t0:.1f} s")
    return classes


# ------------------------------------------------------------- invocation

class Invocation:
    """One `graft.Main` process: spawn, wait (rusage), and the ready mark."""
    live = set()    # processes not yet reaped, killed if the run is aborted

    def __init__(self, argv, cwd, env, stop_when_ready=False):
        self.stop_when_ready = stop_when_ready
        self.spawn = time.perf_counter()
        self.ready = None
        self.stderr_tail = []
        self.stdout = []
        self.proc = subprocess.Popen(argv, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                     text=True, errors="replace")
        Invocation.live.add(self.proc)
        self.readers = [threading.Thread(target=self._err, daemon=True),
                        threading.Thread(target=self._out, daemon=True)]
        for t in self.readers:
            t.start()

    def _err(self):
        for line in self.proc.stderr:
            if self.ready is None and READY_MARKER in line:
                self.ready = time.perf_counter()
                if self.stop_when_ready:
                    os.kill(self.proc.pid, signal.SIGKILL)
            self.stderr_tail = (self.stderr_tail + [line])[-40:]

    def _out(self):
        for line in self.proc.stdout:
            self.stdout.append(line)

    def wait(self, timeout):
        timer = threading.Timer(timeout, os.kill, (self.proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, ru = os.wait4(self.proc.pid, 0)
        finally:
            timer.cancel()
        Invocation.live.discard(self.proc)
        self.exit = time.perf_counter()
        self.proc.returncode = os.waitstatus_to_exitcode(status)
        for t in self.readers:
            t.join()
        self.code = self.proc.returncode
        self.peak_rss_mb = ru.ru_maxrss / 1024.0   # Linux reports KiB
        return self


def java_argv(classes, jars, config, cores, extra=()):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
            list(extra) +
            ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
             "graft.Main", config, "--master", f"local[{cores}]"])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


# ------------------------------------------------------------------- main

class Runner:
    """Spawns invocations of one workload and turns each into a record."""

    def __init__(self, wl, classes, jars, cores, work):
        self.wl, self.classes, self.jars, self.cores, self.work = wl, classes, jars, cores, work
        self.dirs = [f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
                     f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        self.attempted = self.failed = 0

    def spawn(self, extra=(), args=(), stop_when_ready=False):
        argv = java_argv(self.classes, self.jars, self.wl.config_path(), self.cores,
                         self.dirs + list(extra)) + list(args)
        return Invocation(argv, self.work, self.wl.env,
                          stop_when_ready).wait(INVOCATION_TIMEOUT_S)

    def count(self, results):
        bad = [r for r in results if not r[1]]
        for name, _, detail in bad:
            print(f"[perfbench] check failed: {name}: {detail}", file=sys.stderr, flush=True)
        self.attempted += len(results)
        self.failed += len(bad)

    def exit_check(self, inv, what):
        res = [(f"{what} exit code 0", inv.code == 0,
                f"exit {inv.code}: " + "".join(inv.stderr_tail[-5:]).strip())]
        if "--dry-run" not in what:
            res.append((f"{what} ready marker seen", inv.ready is not None,
                        "no SparkContext ready line"))
        return res

    def dry_run(self):
        inv = self.spawn(args=["--dry-run"])
        self.count(self.exit_check(inv, "--dry-run"))
        return inv.exit - inv.spawn

    def setup_probe(self):
        """Set-up only: the CLI on the workload's config (selecting no
        pipeline), stopped as soon as its SparkContext is ready. Same JVM
        start, config parse and session build as a full invocation."""
        inv = self.spawn(args=["--only", SETUP_PROBE], stop_when_ready=True)
        self.count([("set-up probe ready marker seen", inv.ready is not None,
                     f"exit {inv.code}: " + "".join(inv.stderr_tail[-5:]).strip())])
        return (inv.ready or inv.exit) - inv.spawn

    def full(self, traced=False):
        extra, evdir = [], None
        if traced:
            evdir = os.path.join(self.work, "events")
            shutil.rmtree(evdir, ignore_errors=True)
            os.makedirs(evdir)
            extra = eventlog.spark_props(evdir)
        self.wl.reset()
        inv = self.spawn(extra)
        self.count(self.exit_check(inv, "run") + self.wl.check())
        rec = {"traced": traced,
               "setup_s": (inv.ready or inv.exit) - inv.spawn,
               "run_s": inv.exit - (inv.ready or inv.spawn),
               "peak_rss_mb": inv.peak_rss_mb}
        rec["records_per_s"] = self.wl.input_records / rec["run_s"]
        for line in inv.stdout:
            if line.startswith("[graft]"):
                log(line.rstrip())
        log(json.dumps({k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}))
        rec.update(evdir=evdir, wall_s=inv.exit - inv.spawn)
        return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="store this seed's curation results as its expected values")
    args = ap.parse_args()
    # a terminated run still stops its JVM and the stub (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    jars = spark_jars()
    classes = build(build_dir, jars)

    cores = os.cpu_count() or 1
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["BENCH_CONCURRENCY"] = str(cores)
    wl = workloads.WORKLOADS[args.workload](
        args.seed, random.Random(args.seed), work, env)
    try:
        wl.prepare()
        runner = Runner(wl, classes, jars, cores, work)
        t0 = time.perf_counter()
        dry_run_s = runner.dry_run() if args.trace else None
        setups = [runner.setup_probe() for _ in range(SETUP_PROBES)]
        # full invocations fill the measuring window (at least one); a run
        # never starts an invocation it could not finish inside MAX_RUN_S
        runs, window = [], time.perf_counter()
        while True:
            now = time.perf_counter()
            if runs and (now - window >= args.seconds
                         or now - t0 + runs[-1]["wall_s"] * (1.3 + args.trace) > MAX_RUN_S):
                break
            runs.append(runner.full())
        traced = runner.full(traced=True) if args.trace else None
        setups += [r["setup_s"] for r in runs]

        samples = {"setup_s": setups}
        for m in ("run_s", "records_per_s", "peak_rss_mb"):
            samples[m] = [r[m] for r in runs]
        summary = {}
        for m, xs in samples.items():
            q1, med, q3 = quartiles(xs)
            summary[m] = {"median": med, "q1": q1, "q3": q3, "n": len(xs)}
        stamp = dict(wl.stamp, seed=args.seed, nproc=cores, heap=HEAP,
                     workload=args.workload, config=wl.config)
        print(json.dumps({"stamp": stamp}), flush=True)
        print(json.dumps({"summary": summary}), flush=True)

        if args.trace == 0:
            metrics = {m: {"value": summary[m]["median"], "unit": u}
                       for m, u in END_TO_END_UNITS.items()}
        else:
            metrics = eventlog.per_layer(
                traced, untraced_run_s=summary["run_s"]["median"], workload=wl,
                dry_run_s=dry_run_s, src_root=ROOT)
            metrics["fail_ratio"] = {"value": runner.failed / runner.attempted,
                                     "unit": "ratio"}
        if args.record_expected and runner.failed == 0:
            wl.record_expected()
        print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                          "failed": runner.failed, "metrics": metrics}))
    finally:
        for proc in Invocation.live:
            proc.kill()
            proc.wait()
        wl.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
