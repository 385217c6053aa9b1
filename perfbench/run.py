#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, a fixed amount of work.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark's JVM main from this checkout's
sources (once per source digest), generates the seed's inputs, runs the
JVM (warm-up batches on throwaway directories, then the timed batches),
checks every batch's output against what the generator planted, and
prints one JSON result as the last line of standard output.

Workloads (each a closed loop with one client):
  listings_poll      poll-sized batches through land -> FraudPipeline ->
                     alert sink; driver work (planning, codegen, job
                     count) dominates
  listings_backfill  the same chain on chunks ten times larger;
                     executor kernels (regex extraction, aggregation)
                     dominate
  corpus_stream      the near-dup-gated stream over growing state, with
                     a maintenance pass (stop, maintain, resume) at a
                     fixed trigger interval

listings_backfill is not in BENCHMARK.json (see CHANGES.md); run it by
hand to compare the two listings regimes.

The number of timed batches follows from --seconds alone (never from a
clock), so every run of a workload does the same work. With --trace 1
the run prints per-layer metrics and the tracing overhead, which needs
the untraced batch_s of the same code, workload and seed: taken from an
earlier run in this checkout, or else measured first in an extra
untraced JVM.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# batch: rows per batch; spread: +/- share of batch-size variation
# inside a run; nominal_s: expected seconds per timed batch on a
# 4-vCPU host, which turns --seconds into a batch count; warm: warm-up
# batches (base size, count).
WORKLOADS = {
    "listings_poll": {"kind": "listings", "batch": 2400, "spread": 0.10,
                      "nominal_s": 6.0, "min_batches": 3, "warm": (300, 1)},
    "listings_backfill": {"kind": "listings", "batch": 24000, "spread": 0.05,
                          "nominal_s": 9.0, "min_batches": 3, "warm": (300, 1)},
    "corpus_stream": {"kind": "corpus", "batch": 200, "spread": 0.10,
                      "nominal_s": 5.0, "min_batches": 4, "warm": (200, 2),
                      "maintain_every": 3},
}

SPANS = ["sources.write_ndjson", "sources.read_ndjson",
         "operators.generate_market_stats", "operators.score_pipeline",
         "streaming.alert_sink_batch", "streaming.trigger", "streaming.maintain"]
SPAN_METRICS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("task_cpu_s", "s"), ("task_gc_s", "s"), ("plan_s", "s"),
                ("codegen_compiles", "count"), ("records_in", "count"),
                ("records_out", "count"), ("shuffle_bytes", "bytes"),
                ("spill_bytes", "bytes")]
FINGERPRINT_KEYS = ["jobs", "stages", "tasks", "records_in", "records_out",
                    "shuffle_records"]
# the gate's three sinks race to fill shared caches, so jobs and tasks
# of a trigger may differ by one and shuffle records by a few
STREAM_TOLERANCE = {"jobs": 1, "tasks": 1, "shuffle_records": 8}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile library + benchmark main with sbt, offline, unless this source
    digest was already built."""
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=f, stderr=subprocess.STDOUT, env=env,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def host_facts():
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def jvm_command(run_dir, workload, slots, trace, facts):
    # build.sbt's forked-JVM options: add-opens, -Xmx, ParallelGC; the
    # heap follows the repository's test convention (half of MemTotal,
    # 2-8 GiB) so it never depends on the caller's environment
    heap_gb = min(8, max(2, facts["mem_total_mb"] // 2048))
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must point at the Spark installation")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    w = WORKLOADS[workload]
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb}g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", f"{CLASSES}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", workload, "--dir", run_dir, "--slots", str(slots),
            "--trace", str(trace), "--maintain-every", str(w.get("maintain_every", 0))]
    return cmd


def run_jvm(workload, seed, n_timed, trace, facts, slots):
    """One fresh JVM over freshly generated inputs in a private
    directory that is removed afterwards. Returns (result, expected,
    params, setup_s)."""
    tag = f"t{trace}"
    w = WORKLOADS[workload]
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{workload}-s{seed}-{tag}.log")
    try:
        params, expected = gen.write_inputs(run_dir, w["kind"], seed, w["warm"],
                                            (w["batch"], n_timed), w["spread"])
        cmd = jvm_command(run_dir, workload, slots, trace, facts)
        with open(log_path, "w") as log:
            launched = time.time()
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, preexec_fn=die_with_parent)
            try:
                rc = proc.wait(timeout=150)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{workload} JVM timed out, see {log_path}")
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            fail(f"{workload} JVM exited {rc}, see {log_path}")
        with open(result_path) as f:
            result = json.load(f)
        return result, expected, params, result["setup_end_ms"] / 1000 - launched
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def die_with_parent():
    """Have the kernel kill the JVM if this script is killed first."""
    try:
        ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(result, expected):
    """End-to-end numbers, the failed count and the work fingerprint of
    one JVM run."""
    batches, maint = result["batches"], result["maintenance"]
    failed = 0
    for b, e in zip(batches, expected):
        if b["error"] or b["count"] != e["count"] or int(b["hash"]) != e["hash"]:
            failed += 1
            print(f"check: batch {b['index']} FAILED: got {b['count']} rows "
                  f"hash {b['hash']}, expected {e['count']} hash {e['hash']}"
                  f"{' error ' + b['error'] if b['error'] else ''}")
    failed += sum(1 for m in maint if m["error"])
    attempted = len(batches) + len(maint)
    walls = [b["wall_s"] for b in batches]
    busy_s = sum(b["wall_s"] for b in batches + maint)
    counters = {k: sum(b["counters"].get(k, 0) for b in batches + maint)
                for k in FINGERPRINT_KEYS + ["task_run_s"]}
    return {
        "batch_s": median(walls),
        "rows_per_s": sum(e["rows"] for e in expected) / busy_s,
        "cpu_s": median([b["cpu_s"] for b in batches]),
        "peak_rss_mb": result["peak_rss_mb"],
        "failed": failed, "attempted": attempted,
        "fingerprint": {**{k: round(counters[k]) for k in FINGERPRINT_KEYS},
                        "slots": result["slots"]},
        "slot_busy_frac": counters["task_run_s"] / (busy_s * result["slots"]),
    }


def check_fingerprint(workload, seed, trace, digest, fp, n_batches):
    """Compare with the last run of the same code, workload, seed and
    width: listings must repeat exactly, the stream within the per-batch
    tolerance."""
    d = os.path.join(BUILD, "fingerprints")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{digest}-{workload}-s{seed}-t{trace}-k{fp['slots']}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(fp, f)
        return "first run"
    with open(path) as f:
        prev = json.load(f)
    tol = STREAM_TOLERANCE if workload == "corpus_stream" else {}
    off = [k for k in fp if abs(fp[k] - prev.get(k, 0)) > tol.get(k, 0) * n_batches]
    return "match" if not off else f"MISMATCH on {off}, previous {json.dumps(prev)}"


def layer_metrics(result, summary, untraced_batch_s):
    spans = result["spans"]
    m = {}
    for name in SPANS:
        mine = [s["counters"] for s in spans if s["name"] == name]
        for suffix, unit in SPAN_METRICS:
            vals = [c.get(suffix, 0.0) for c in mine]
            m[f"{name}.{suffix}"] = (median(vals), unit)
    batches = result["batches"]
    gauges = [b["gauges"] for b in batches if b["gauges"]]
    last = gauges[-1] if gauges else {}
    for g, unit in (("state_batches", "count"), ("state_files", "count"),
                    ("state_bytes", "bytes")):
        m[f"streaming.{g}"] = (last.get(g, 0.0), unit)
    m["streaming.accept_frac"] = (summary.get("accept_frac", 0.0), "fraction")
    # trigger tasks against state growth: rise from the first trigger of
    # each maintenance segment to its last, drop across each pass
    trig = [s for s in spans if s["name"] == "streaming.trigger"]
    tasks = {s["batch"]: s["counters"]["tasks"] for s in trig}
    passes = [s["batch"] for s in spans if s["name"] == "streaming.maintain"]
    starts = [0] + [p + 1 for p in passes]
    ends = passes + [max(tasks, default=0)]
    growth = [tasks[e] - tasks[s] for s, e in zip(starts, ends)
              if e > s and s in tasks and e in tasks]
    cuts = [tasks[p] - tasks[p + 1] for p in passes if p in tasks and p + 1 in tasks]
    m["streaming.trigger.tasks_growth"] = (median(growth), "count")
    m["streaming.maintain.tasks_cut"] = (median(cuts), "count")
    m["spark.slot_busy_frac"] = (summary["slot_busy_frac"], "fraction")
    m["jvm.gc_s"] = (result["jvm_gc_s"], "s")
    m["jvm.jit_s"] = (result["jvm_jit_s"], "s")
    m["host.steal_frac"] = (result["steal_frac"], "fraction")
    m["trace.overhead_s"] = (summary["batch_s"] - untraced_batch_s, "s")
    return m


def measure(a, n_timed, trace, facts, slots, digest):
    """One JVM run: print its facts, return (summary, result)."""
    result, expected, params, setup_s = run_jvm(
        a.workload, a.seed, n_timed, trace, facts, slots)
    s = summarize(result, expected)
    s["setup_s"] = setup_s
    if WORKLOADS[a.workload]["kind"] == "corpus":
        s["accept_frac"] = (sum(e["count"] for e in expected) /
                            sum(e["rows"] for e in expected))
    launch_ms = result["setup_end_ms"] - setup_s * 1000
    print(f"run: workload={a.workload} seed={a.seed} trace={trace} "
          f"timed_batches={n_timed} maintenance_passes={len(result['maintenance'])}")
    print("generator: " + json.dumps(params, sort_keys=True))
    print("host: " + json.dumps({**facts, "slots": slots,
                                 "steal_frac": round(result["steal_frac"], 5),
                                 "jvm_flags": result["jvm_flags"]}))
    print("fingerprint: " + json.dumps(s["fingerprint"], sort_keys=True) + " -> " +
          check_fingerprint(a.workload, a.seed, trace, digest, s["fingerprint"],
                            s["attempted"]))
    print(f"setup: session {(result['session_ready_ms'] - launch_ms) / 1000:.3f} s, "
          "warm-up " + " ".join(f"{x:.3f}" for x in result["warm_s"]))
    print("batches_s: " + " ".join(f"{b['wall_s']:.3f}" for b in result["batches"]) +
          "".join(f" maintenance {m['wall_s']:.3f}" for m in result["maintenance"]))
    return s, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        fail("no graft sources next to the benchmark directory")
    digest = source_digest()
    build(digest)

    w = WORKLOADS[a.workload]
    n_timed = max(w["min_batches"], round(a.seconds / w["nominal_s"]))
    facts = host_facts()
    slots = min(4, facts["nproc"])
    # the untraced batch_s of this code, workload, seed and width, kept
    # so a traced run can report its overhead without a second JVM
    base_dir = os.path.join(BUILD, "untraced")
    os.makedirs(base_dir, exist_ok=True)
    base_path = os.path.join(base_dir, f"{digest}-{a.workload}-s{a.seed}-n{n_timed}-k{slots}.json")

    attempted = failed = 0
    if not a.trace or not os.path.exists(base_path):
        s, result = measure(a, n_timed, 0, facts, slots, digest)
        attempted, failed = s["attempted"], s["failed"]
        with open(base_path, "w") as f:
            json.dump({"batch_s": s["batch_s"]}, f)
    if a.trace:
        with open(base_path) as f:
            untraced_batch_s = json.load(f)["batch_s"]
        s, result = measure(a, n_timed, 1, facts, slots, digest)
        attempted, failed = attempted + s["attempted"], failed + s["failed"]
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        tpath = os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json")
        with open(tpath, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": result["spans"],
                       "batches": result["batches"], "maintenance": result["maintenance"]}, f)
        print(f"trace: {os.path.relpath(tpath, ROOT)}; untraced batch_s {untraced_batch_s:.4f}")
        metrics = layer_metrics(result, s, untraced_batch_s)
    else:
        metrics = {"batch_s": (s["batch_s"], "s"), "rows_per_s": (s["rows_per_s"], "1/s"),
                   "cpu_s": (s["cpu_s"], "s"), "peak_rss_mb": (s["peak_rss_mb"], "MiB"),
                   "ok_frac": (1 - s["failed"] / s["attempted"], "fraction"),
                   "setup_s": (s["setup_s"], "s")}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
