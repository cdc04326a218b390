#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload registry|runtime \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the product and the
harness from source with sbt (offline) into the checkout; later runs reuse
the build while the sources are unchanged. Inputs come from ``--seed``.
Without ``--trace`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the span file is
written under ``.bench_build/traces/``. See ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("registry", "runtime")
RUN_LIMIT_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
FAMILIES = ["datalog", "dedup", "corpus", "text", "stream", "ts", "similarity", "other"]

SINK_QUERY = "kafka_soutput"  # the Spark query name of the runtime's output sink
END_TO_END = {"setup_s": "s", "throughput_ops": "1/s", "cpu_s": "s", "peak_rss_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(deadline):
    """Build with sbt if the sources changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no product sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("export perfbench/Runtime/fullClasspath")
    log("building product and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=max(60, deadline - time.time()))
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(r.stdout[-3000:])
        raise SystemExit(f"perfbench: sbt build failed (exit {r.returncode})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# --------------------------------------------------------------------- run

def run_jvm(cp, workload, seed, seconds, trace, data, work, deadline):
    out = os.path.join(work, "record.json")
    # A fixed heap keeps GC sizing out of the run-to-run spread, and
    # -XX:-UsePerfData keeps the JVM's perf-data file out of /tmp. The gate
    # passes of `registry` stop at the C1 compiler: under C2 each pass's CPU
    # falls from about 11 s to 4 s over nine passes, in a different order
    # every run, while under C1 passes 2-5 stay within a few per cent.
    jit = ["-XX:TieredStopAtLevel=1"] if workload == "registry" else []
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] + jit + JVM_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", data, "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep its files in the checkout
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=errf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: benchmark JVM exceeded its time limit")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

def family(gate):
    return next((f for f in FAMILIES if gate.startswith(f + "_")), "other")


def batch_checks(rec, data):
    import oracle
    checked = rec["checked"]
    verdict = oracle.check(rec["out_dir"], data, rec["oracle_sql"], sorted(checked))
    bad = {}
    for g, c in checked.items():
        if c.get("error"):
            bad[g] = c["error"]
        elif verdict[g]:
            bad[g] = verdict[g]
    timed = rec.get("timed") or rec.get("traced")
    failed = []
    for t in timed:
        why = t.get("error") or bad.get(t["gate"])
        c = checked[t["gate"]]
        if not why and (t["rows"], t["hash"]) != (c["rows"], c["hash"]):
            why = f"timed digest {t['rows']}/{t['hash']} != checked {c['rows']}/{c['hash']}"
        if why:
            failed.append(f"{t['gate']} pass {t['pass']}: {why}")
    return len(timed), failed


def batch_metrics(rec):
    measured = set(rec["measured_passes"])
    timed = [t for t in rec["timed"] if t["pass"] in measured]
    passes = [p for p in rec["passes"] if p["pass"] in measured]
    walls = [t["wall_s"] for t in timed]
    sums = [sum(t["wall_s"] for t in timed if t["pass"] == p["pass"]) for p in passes]
    # each gate's median over the measured passes, so one slow pass or one
    # slow execution does not move the figure
    per_gate = {}
    for t in timed:
        per_gate.setdefault(t["gate"], []).append(t["wall_s"])
    e2e = {
        "setup_s": statistics.median(rec["setup_s"]),
        "throughput_ops": len(per_gate) / sum(statistics.median(v) for v in per_gate.values()),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    named = {  # printed alongside, not gated
        "batch_wall_s": (statistics.median(sums), "s"),
        "gate_p50_s": (analysis.percentile(walls, 50), "s"),
        "gate_p90_s": (analysis.percentile(walls, 90), "s"),
        "warmup_s": (rec["warmup_s"], "s"),
        "passes": (len(rec["passes"]), "count"),
    }
    return e2e, named


def runtime_checks(rec, direct_puts=()):
    failed, reasons = analysis.check_runtime(
        rec["ops"], rec["sink"], rec["preload"], rec["readback"], direct_puts)
    attempted = len(rec["ops"]) + len(direct_puts)
    return attempted, sorted(failed), reasons


def runtime_metrics(rec):
    lat = analysis.runtime_latencies(rec["ops"], rec["sink"], since=rec["timed_start"],
                                     until=rec["burst_start"])
    for k, v in lat.items():
        if not v:
            raise SystemExit(f"perfbench: no completed {k} operations to measure")
    p50 = {k: analysis.percentile(v, 50) for k, v in lat.items()}
    p90 = {k: analysis.percentile(v, 90) for k, v in lat.items()}
    e2e = {
        "setup_s": statistics.median(rec["setup_s"]),
        "throughput_ops": rec["capacity_rps"],
        "cpu_s": rec["cpu_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    named = {  # printed alongside, not gated
        "ingest_p50_ms": (p50["ingest"], "ms"), "ingest_p90_ms": (p90["ingest"], "ms"),
        "query_p50_ms": (p50["query"], "ms"), "query_p90_ms": (p90["query"], "ms"),
        "stream_p50_ms": (p50["stream"], "ms"), "stream_p90_ms": (p90["stream"], "ms"),
        "swap_p50_ms": (p50["swap"], "ms"), "ingest_capacity_rps": (rec["capacity_rps"], "req/s"),
        "ops_timed": (sum(len(v) for v in lat.values()), "count"),
        "generator_late_ms_p90": (analysis.percentile(
            [o["sent"] - o["sched"] for o in rec["ops"]
             if rec["timed_start"] <= o["sched"] < rec["burst_start"]], 90), "ms"),
    }
    return e2e, named


# --------------------------------------------------------- per-layer metrics

def spark_layers(phase, nproc):
    jobs = phase["jobs"]
    window = (phase["start"], phase["end"])
    wall_s = (window[1] - window[0]) / 1e3
    intervals = [(j["start"], j["end"]) for j in jobs]
    return {
        "spark.plan.analysis_s": (phase["plan_analysis_s"], "s"),
        "spark.plan.optimization_s": (phase["plan_optimization_s"], "s"),
        "spark.plan.planning_s": (phase["plan_planning_s"], "s"),
        "spark.sched.jobs": (len(jobs), "count"),
        "spark.sched.stages": (phase["stages"], "count"),
        "spark.sched.tasks": (phase["tasks"], "count"),
        "spark.sched.job_wall_s": (analysis.union_length(intervals) / 1e3, "s"),
        "spark.sched.idle_s": (analysis.idle_time(window, intervals) / 1e3, "s"),
        "spark.exec.run_s": (phase["run_s"], "s"),
        "spark.exec.cpu_s": (phase["cpu_s"], "s"),
        "spark.exec.gc_s": (phase["gc_s"], "s"),
        "spark.exec.core_util": (phase["run_s"] / (wall_s * nproc), "ratio"),
        "spark.shuffle.write_mb": (phase["shuffle_write_mb"], "MB"),
        "spark.shuffle.read_mb": (phase["shuffle_read_mb"], "MB"),
        "spark.shuffle.spill_mb": (phase["spill_mb"], "MB"),
        "jvm.gc_s": (phase["jvm_gc_s"], "s"),
        "jvm.heap_peak_mb": (phase["jvm_heap_peak_mb"], "MB"),
        "core.cached_mb_peak": (phase["cached_mb_peak"], "MB"),
    }


def gate_layers(gates_timed, family_timed):
    fam = {f: 0.0 for f in FAMILIES}
    for t in family_timed:
        fam[family(t["gate"])] += t["wall_s"]
    out = {
        "gates.build_s": (sum(t["build_s"] for t in gates_timed), "s"),
        "gates.action_s": (sum(t["action_s"] for t in gates_timed), "s"),
    }
    out.update({f"family.{f}_s": (v, "s") for f, v in fam.items()})
    return out


def runtime_layers(rt, phase, progress):
    ops, sink = rt["ops"], rt["sink"]
    since = rt.get("traced_start", -float("inf"))
    traced = [o for o in ops if o["sched"] >= since]
    direct = rt["direct"]
    put_ms = [p["end"] - p["start"] for p in direct["puts"]]
    build_ms = [q["built"] - q["start"] for q in direct["queries"]]
    exec_ms = [q["end"] - q["built"] for q in direct["queries"]]
    jobs = phase["jobs"]
    background = ("stream", "alerts")
    put_jobs = analysis.jobs_within(jobs, [(p["start"], p["end"]) for p in direct["puts"]], background)
    q_ops = [o for o in traced if o["kind"] == "query"]
    q_jobs = analysis.jobs_within(jobs, [(o["sent"], o["done"]) for o in q_ops], background)
    compactions = [o for o in traced if o["kind"] == "compact" and o["detail"] is True]
    swaps = [o for o in traced if o["kind"] == "swap"]
    dur = {k: [p[k] for p in progress if k in p]
           for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit")}
    p50 = lambda v: analysis.percentile(v, 50) if v else 0.0  # noqa: E731
    ingest_ms = [o["done"] - o["sent"] for o in traced
                 if o["kind"] == "ingest" and o["status"] // 100 == 2]
    out = {
        "api.overhead_ms_p50": (p50(ingest_ms) - p50(put_ms), "ms"),
        "store.put_ms_p50": (p50(put_ms), "ms"),
        "store.jobs_per_put": (len(put_jobs) / len(put_ms), "count"),
        "store.files_max": (max(rt["files_samples"], default=0), "count"),
        "store.write_amp": (rt["store_bytes"] / rt["payload_bytes"], "ratio"),
        "store.compactions": (len(compactions), "count"),
        "store.compact_ms": (sum(o["done"] - o["sent"] for o in compactions), "ms"),
        "query.datalog.build_ms_p50": (p50(build_ms), "ms"),
        "query.datalog.exec_ms_p50": (p50(exec_ms), "ms"),
        "query.jobs_per_request": (len(q_jobs) / max(1, len(q_ops)), "count"),
        "stream.trigger_ms_p50": (p50(dur["triggerExecution"]), "ms"),
        "stream.addbatch_ms_p50": (p50(dur["addBatch"]), "ms"),
        "stream.planning_ms_p50": (p50(dur["queryPlanning"]), "ms"),
        "stream.walcommit_ms_p50": (p50(dur["walCommit"]), "ms"),
        "stream.batches": (len(progress), "count"),
        "stream.backlog_max": (rt["backlog_max"], "count"),
        "stream.dropped_rows": (rt["dropped_rows"], "count"),
        "stream.sink_starts_per_swap": (
            analysis.starts_per_swap(traced, rt["query_starts"], SINK_QUERY), "count"),
        "registry.swap_call_ms_p50": (p50([o["done"] - o["sent"] for o in swaps]), "ms"),
        "registry.swap_gap_ms_p50": (p50(analysis.swap_gaps(traced, sink)), "ms"),
    }
    for kind in ("ingest", "query", "push", "swap"):
        out[f"api.non2xx.{kind}"] = (
            sum(1 for o in traced if o["kind"] == kind and o["status"] // 100 != 2), "count")
    for module, n in analysis.jobs_by_module(jobs).items():
        out[f"jobs.{module}"] = (n, "count")
    return out


def spans_file(rec, phases, path):
    spans = list(rec["spans"])
    jobs = [j for p in phases for j in p["jobs"]]
    spans += analysis.attach_jobs(spans, jobs, max([s["id"] for s in spans], default=0) + 1)
    selfs = analysis.self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    with open(path, "w") as f:
        json.dump(spans, f)


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    cp = classpath(deadline=time.time() + 880)
    deadline = max(deadline, time.time() + 120)

    import fixture
    data = os.path.join(BUILD, "data", f"s{args.seed}")
    if args.workload != "runtime" or args.trace:  # the runtime's gate probe reads it
        fixture.build(data, args.seed)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm = time.time()
        rec = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace == 1,
                      data, work, deadline)
        log(f"jvm {time.time() - t_jvm:.1f} s (set-ups {rec['setup_s']})")
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"),
                  "w") as f:
            json.dump(rec, f)
        failures = []
        if args.workload == "runtime":
            puts = rec["direct"]["puts"] if args.trace else ()
            attempted, failed, reasons = runtime_checks(rec, puts)
            failures = reasons
            n_failed = len(failed)
        else:
            attempted, failures = batch_checks(rec, data)
            n_failed = len(failures)
            if args.trace:  # the runtime probe's operations are checked too
                probe = rec["runtime_probe"]
                more, failed, reasons = runtime_checks(probe, probe["direct"]["puts"])
                attempted, n_failed, failures = attempted + more, n_failed + len(failed), failures + reasons
        if args.trace:
            metrics = layer_metrics(args.workload, rec)
        else:
            e2e, named = (runtime_metrics if args.workload == "runtime" else batch_metrics)(rec)
            metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
            for k, (v, unit) in named.items():
                print(f"  {k:<28} {v:>14.4f} {unit}")
            print(f"  {'failed_frac':<28} {n_failed / attempted:>14.4f} ratio")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in failures[:20]:
        log(f"check failed: {line}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:<28} {v:>14.4f} {unit}")
    print(json.dumps({
        "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))


def layer_metrics(workload, rec):
    nproc = rec["nproc"]
    if workload == "runtime":
        rt, phase, progress = rec, rec["main"], rec["progress"]
        gates = family_gates = rec["gate_probe"]
        untraced = analysis.runtime_latencies(rec["ops"], rec["sink"], since=rec["timed_start"],
                                              until=rec["traced_start"])
        traced = analysis.runtime_latencies(rec["ops"], rec["sink"], since=rec["traced_start"])
        mean = lambda lat: statistics.mean(lat["ingest"] + lat["query"])  # noqa: E731
        overhead = 100 * (mean(traced) / mean(untraced) - 1)
        phases = [phase]
    else:
        rt = rec["runtime_probe"]
        phase, progress = rec["main"], rt["progress"]
        gates, family_gates = rec["traced"], rec["gate_probe"]
        overhead = 100 * (sum(t["wall_s"] for t in rec["traced"]) /
                          sum(t["wall_s"] for t in rec["untraced"]) - 1)
        phases = [phase, rt["phase"]]
    out = spark_layers(phase, nproc)
    out.update(gate_layers(gates, family_gates))
    out.update(runtime_layers(rt, rt["phase"] if workload != "runtime" else phase, progress))
    out["trace.overhead_pct"] = (overhead, "%")
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    path = os.path.join(BUILD, "traces", f"{workload}-{rec['seed']}.spans.json")
    spans_file(rec, phases, path)
    log(f"spans written to {os.path.relpath(path, ROOT)}")
    return out


if __name__ == "__main__":
    main()
