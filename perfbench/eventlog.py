"""Per-layer metrics from one traced invocation.

The traced invocation runs the same CLI with Spark's event log switched on
through -Dspark.* properties (uncompressed: zstd is Spark's default codec
and Python's standard library cannot read it). After exit, every Spark job
is attributed to a module by the innermost `graft.` frame of its call
site. A job whose stage call site holds only Spark's own frames (for
example `SQLExecution.withThreadLocalCaptured` on a broadcast or subquery
thread) is attributed through the call site of its SQL execution
(`spark.sql.execution.id`); a job with no `graft.` frame in either is
counted as unattributed, never dropped.
"""
import glob
import json
import os
import re

MiB = 1024.0 * 1024.0
MODULES = ("engine", "sources", "operators", "sinks")
# package (or top-level object) of the innermost graft frame -> module;
# frames of other packages (graft.util, graft.config) defer outwards
PACKAGE_MODULE = {"engine": "engine", "Main": "engine", "sources": "sources",
                  "operators": "operators", "functions": "operators", "sinks": "sinks"}
CC_FRAME = "graft.operators.LlmOps$.dedupGroups"
SKEW_MIN_TASKS, SKEW_MIN_STAGE_S = 4, 0.5


def spark_props(evdir):
    return ["-Dspark.eventLog.enabled=true", f"-Dspark.eventLog.dir={evdir}",
            "-Dspark.eventLog.compress=false",
            "-Dspark.eventLog.logBlockUpdates.enabled=true",
            "-Dspark.eventLog.logStageExecutorMetrics=true"]


def read_events(evdir):
    files = sorted(p for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus")))
    for p in files:
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def module_of(call_site):
    """Module of the innermost graft frame that maps to one."""
    for line in (call_site or "").splitlines():
        line = line.strip()
        if not line.startswith("graft."):
            continue
        parts = line.split("(", 1)[0].split(".")
        key = parts[1].split("$", 1)[0] if len(parts) > 1 else ""
        if key in PACKAGE_MODULE:
            return PACKAGE_MODULE[key]
    return None


def kernel_names(src_root):
    """Names under which the graft.functions expressions print in a plan:
    each case class's lower-cased name and any overridden prettyName."""
    names = set()
    for p in glob.glob(os.path.join(src_root, "src/main/scala/graft/functions/*.scala")):
        with open(p, encoding="utf-8") as f:
            text = f.read()
        names.update(n.lower() for n in re.findall(r"case class (\w+)", text))
        names.update(re.findall(r'prettyName[^=\n]*=\s*"([^"]+)"', text))
    return {n for n in names if len(n) > 3}


def kernel_codegen_ids(plans, names):
    """Codegen stage ids of the plan nodes that evaluate a kernel, over
    every version of one execution's plan (AQE re-plans it). An
    InMemoryTableScan only quotes the cached plan, whose kernels ran when
    the cache was filled, so it does not count. Returns None when a kernel
    runs outside whole-stage codegen (every stage then counts)."""
    ids, seen = set(), False
    for plan in plans:
        for node in re.split(r"\n(?=\(\d+\) )", plan):
            head = node.split("\n", 1)[0]
            if "InMemoryTableScan" in head or not any(n + "(" in node for n in names):
                continue
            seen = True
            m = re.search(r"\[codegen id : (\d+)\]", head)
            if m:
                ids.add(m.group(1))
    return (ids or None) if seen else set()


def pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def http_metrics(log, planned):
    """Stub-side request log -> request counts, per-connection gaps (the
    program's own per-call overhead) and the stub's service time: the CPU
    time its one thread spent on a request. Wall time between arrival and
    finish would also count the host descheduling the stub, which delays
    the program's threads alike and is no cost of the stub."""
    if log is None:
        return {"requests": 0, "requests_per_planned": 0.0, "failed": 0,
                "gap_p50_ms": 0.0, "gap_p99_ms": 0.0, "service_p99_ms": 0.0}
    by_conn, gaps = {}, []
    for conn, arrival, finish, _, _, _ in log:
        by_conn.setdefault(conn, []).append((arrival, finish))
    for reqs in by_conn.values():
        reqs.sort()
        gaps += [(b[0] - a[1]) * 1000.0 for a, b in zip(reqs, reqs[1:])]
    service = [cpu * 1000.0 for *_, cpu in log]
    return {"requests": len(log),
            "requests_per_planned": len(log) / planned if planned else 0.0,
            "failed": sum(1 for r in log if r[3] != 200),
            "gap_p50_ms": pct(gaps, 0.50), "gap_p99_ms": pct(gaps, 0.99),
            "service_p99_ms": pct(service, 0.99)}


def analyze(evdir, src_root):
    """Event log -> job/stage/task aggregates keyed for per_layer."""
    jobs, stage_job, stage_rdds, sql, plans = {}, {}, {}, {}, {}
    tasks = {}
    blocks, cached, cached_peak = {}, 0, 0
    gc_ms = 0
    for e in read_events(evdir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            stages = e.get("Stage Infos", [])
            last = max(stages, key=lambda s: s["Stage ID"]) if stages else {}
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {"submit": e["Submission Time"], "end": None,
                                 "details": last.get("Details", ""),
                                 "exec": props.get("spark.sql.execution.id")}
            for s in stages:
                stage_job.setdefault(s["Stage ID"], e["Job ID"])
                stage_rdds.setdefault(s["Stage ID"], [
                    (r.get("Name", ""), json.loads(r["Scope"])["name"] if r.get("Scope") else "")
                    for r in s.get("RDD Info", [])])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            inp = m.get("Input Metrics") or {}
            tasks.setdefault(e["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "records_read": inp.get("Records Read", 0),
                "bytes_read": inp.get("Bytes Read", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0)})
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            ex = str(e["executionId"])
            sql[ex] = {"details": e.get("details", ""), "root": str(e.get("rootExecutionId"))}
            plans.setdefault(ex, []).append(e.get("physicalPlanDescription", ""))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            plans.setdefault(str(e["executionId"]), []).append(
                e.get("physicalPlanDescription", ""))
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            bid = info["Block ID"]
            if bid.startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                cached += size - blocks.get(bid, 0)
                blocks[bid] = size
                cached_peak = max(cached_peak, cached)
        elif kind == "SparkListenerStageExecutorMetrics":
            gc_ms = max(gc_ms, (e.get("Executor Metrics") or {}).get("TotalGCTime", 0))

    names = kernel_names(src_root)
    for j in jobs.values():
        mod = module_of(j["details"])
        site = j["details"]
        if mod is None and j["exec"] is not None:
            ex = sql.get(j["exec"], {})
            site = ex.get("details", "")
            mod = module_of(site) or module_of(sql.get(ex.get("root"), {}).get("details"))
        j["module"], j["site"] = mod, site
    return {"jobs": jobs, "stage_job": stage_job, "stage_rdds": stage_rdds,
            "tasks": tasks, "plans": plans, "kernels": names,
            "cached_peak": cached_peak, "gc_ms": gc_ms}


def per_layer(traced, untraced_run_s, workload, dry_run_s, src_root):
    a = analyze(traced["evdir"], src_root)
    jobs, tasks = a["jobs"], a["tasks"]
    out = {"config.dry_run_s": (dry_run_s, "s")}

    job_count = {m: 0 for m in MODULES}
    task_s = {m: 0.0 for m in MODULES}
    unattributed = cc_rounds = 0
    for j in jobs.values():
        if j["module"] is None:
            unattributed += 1
        else:
            job_count[j["module"]] += 1
        if CC_FRAME in j["details"] or CC_FRAME in j["site"]:
            cc_rounds += 1

    scan_records = scan_bytes = shuffle = spill = kernel_ms = 0
    max_share = 0.0
    kernel_ids = {ex: kernel_codegen_ids(ps, a["kernels"]) for ex, ps in a["plans"].items()}
    for sid, ts in tasks.items():
        job = jobs.get(a["stage_job"].get(sid), {})
        mod = job.get("module")
        run_ms = sum(t["run_ms"] for t in ts)
        if mod in task_s:
            task_s[mod] += run_ms / 1000.0
        rdds = a["stage_rdds"].get(sid, [])
        if any(name == "FileScanRDD" for name, _ in rdds):
            scan_records += sum(t["records_read"] for t in ts)
            scan_bytes += sum(t["bytes_read"] for t in ts)
        shuffle += sum(t["shuffle_write"] for t in ts)
        spill += sum(t["spill"] for t in ts)
        if mod == "operators" and len(ts) >= SKEW_MIN_TASKS and run_ms >= SKEW_MIN_STAGE_S * 1000:
            max_share = max(max_share, max(t["run_ms"] for t in ts) / run_ms)
        # kernel stages: a codegen stage of this stage's RDD chain that
        # holds a graft.functions expression in some version of the plan
        ids = kernel_ids.get(job.get("exec"), set())
        if ids is None or any(f"WholeStageCodegen ({i})" in {sc for _, sc in rdds} for i in ids):
            kernel_ms += run_ms

    for m in MODULES:
        out[f"{m}.jobs"] = (job_count[m], "count")
        out[f"{m}.task_s"] = (task_s[m], "s")
    intervals = [(j["submit"] / 1000.0, j["end"] / 1000.0) for j in jobs.values() if j["end"]]
    out["engine.no_job_s"] = (traced["run_s"] - union_s(intervals), "s")
    out["engine.scan_passes"] = (scan_records / workload.input_records, "ratio")
    out["engine.cached_peak_mb"] = (a["cached_peak"] / MiB, "MB")
    out["sources.input_mb"] = (scan_bytes / MiB, "MB")
    for k, v in http_metrics(workload.http_log(), workload.planned_calls).items():
        unit = "ms" if k.endswith("_ms") else "ratio" if k.endswith("planned") else "count"
        out[f"sources.http.{k}"] = (v, unit)
    out["operators.cc_rounds"] = (cc_rounds, "count")
    out["operators.max_task_share"] = (max_share, "ratio")
    out["functions.kernel_task_s"] = (kernel_ms / 1000.0, "s")
    out_bytes, out_files = workload.output_size()
    out["sinks.output_mb"] = (out_bytes / MiB, "MB")
    out["sinks.files"] = (out_files, "count")
    out["sinks.output_per_input"] = (out_bytes / workload.input_bytes, "ratio")
    out["spark.shuffle_write_mb"] = (shuffle / MiB, "MB")
    out["spark.spill_mb"] = (spill / MiB, "MB")
    out["spark.gc_s"] = (a["gc_ms"] / 1000.0, "s")
    out["unattributed.jobs"] = (unattributed, "count")
    out["trace.overhead_s"] = (traced["run_s"] - untraced_run_s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
