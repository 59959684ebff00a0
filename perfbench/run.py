"""Benchmark of the PySpark full-text engine: build, query and ingest.

    python3 perfbench/run.py --workload hot_append --seed 1 --seconds 1 --trace 0

Run from the repository root. Workloads and metrics are described in
BENCHMARK.json. One closed-loop client drives the engine on local[nproc]:
set-up (session, corpus, base build, index open, warm-up), a fixed stream
of top-10 queries (whole cycles of query shapes, so the sample is the same
on every seed and for every version of the engine), and a search_many
batch over the stream's OR queries, timed three times. The stream's
length does not follow --seconds: a deadline would let a faster engine
time more, and warmer, queries than a slower one. At today's speed the
stream takes longer than the configured --seconds.
Every timed result is checked against the single-node oracle. --trace 1
adds spans, an ingest micro-batch, a fresh query over base + delta, a
compaction, a step-by-step rebuild and in-process kernel rates, and prints
the per-layer metrics instead.

This script sets the run environment (cores, driver memory, Spark local
dirs, the package on the Python workers' path), runs the workload in a
child session, stops and waits for every process it started, prints a
report and, as its last line, the JSON result. Run records land in
.perfbench/results.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 165
# traced layer spans must cover this share of the wall they split
SPAN_COVERAGE_MIN = 0.9


def bench_config() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of host RAM, at most 4 GiB: local[N] runs every task in
    the driver JVM, and the Python workers and the OS need the rest."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(4096, total_kb // 1024 // 4)}m"


def cpu_probe(root: str, procs: int) -> dict:
    """tools/cpu_probe.py's burn, once in each of ``procs`` concurrent
    processes: a hardware-ceiling reading for the report, not a metric.
    Plain child processes, waited for here, so that nothing outlives the
    run (a multiprocessing pool leaves its resource tracker behind)."""
    env = dict(os.environ, PYTHONPATH=os.path.join(root, "tools"))
    code = "import cpu_probe; cpu_probe.burn(0)"
    t0 = time.monotonic()
    kids = [subprocess.Popen([sys.executable, "-c", code], env=env, cwd=root)
            for _ in range(procs)]
    for k in kids:
        k.wait()
    wall = time.monotonic() - t0
    return {"procs": procs, "wall_s": round(wall, 3),
            "burns_per_s": round(procs / wall, 3)}


def run_env(root: str, work: str, event_log: str | None) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = ["spark.ui.showConsoleProgress=false"]
    if event_log:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_log}",
                 "spark.eventLog.compress=false"]
    env.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # every JVM (the spark-submit launcher too): temp files in the work
        # dir, and no hsperfdata files in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
        OMP_NUM_THREADS="1",
    )
    return env


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies excluded)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()  # state, ppid, pgrp, session
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def stop_session(sid: int) -> None:
    """Terminate what is left of the child's session -- the JVM, the PySpark
    daemon (which moves to a process group of its own) and its workers --
    and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10.0
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)
        if not session_pids(sid):
            return


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER), so that a
    process the workload leaves behind is ours to stop and to wait for."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def reap_children() -> None:
    """Stop every remaining child of this process and wait for each."""
    me = os.getpid()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        for p in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
                if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
                    os.kill(int(p), signal.SIGKILL)
            except (OSError, ValueError):
                continue
        time.sleep(0.05)


def report(rec: dict, env: dict, probes: tuple[dict, dict], cfg: dict, metrics: dict) -> None:
    units = {m["name"]: m["unit"] for m in cfg["end_to_end"] + cfg["per_layer"]}
    print(f"# workload={rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"attempted={rec['attempted']} failed={rec['failed']} "
          f"failed_share={rec['failed'] / max(rec['attempted'], 1):.4f}")
    print("# env " + " ".join(f"{k}={env[k]}" for k in (
        "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH")))
    print(f"# cpu_probe before={probes[0]} after={probes[1]}")
    print("# properties " + json.dumps(rec["properties"]))
    print("# timings " + json.dumps(rec["timings"]))
    with open(os.path.join(HERE, "layers.json")) as f:
        moves = json.load(f) if rec["trace"] else {}
    for name, m in metrics.items():
        line = f"{name:40s} {m['value']:14.4f} {units.get(name, m['unit']):8s}"
        print(line + (f" -> {moves[name]}" if name in moves else ""))
    for err in rec["errors"]:
        print("# FAILED " + err.replace("\n", " | "))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "search_engine_spark", "__init__.py")):
        print("perfbench: run from the repository root (search_engine_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    cfg = bench_config()
    if args.workload not in {w["name"] for w in cfg["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    env = run_env(root, work, event_log)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)

    become_subreaper()
    probe_pre = cpu_probe(root, host_cpus())
    cmd = [sys.executable, os.path.join(HERE, "body.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--trace", str(args.trace), "--work", work, "--out", out]
    if event_log:
        cmd += ["--event-log", event_log]
    with open(os.path.join(results, f"{tag}.log"), "w") as log:
        child = subprocess.Popen(cmd, env=env, cwd=root, stdout=log, stderr=log,
                                 start_new_session=True)
        try:
            code = child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            child.kill()  # no-op once it exited
            child.wait()
            stop_session(child.pid)
            reap_children()
    probe_post = cpu_probe(root, host_cpus())
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: run failed (exit {code}); log in {log.name}", file=sys.stderr)
        return 1
    with open(out) as f:
        rec = json.load(f)
    rec.update(cpu_probe_pre=probe_pre, cpu_probe_post=probe_post,
               env={k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                                        "SPARK_LOCAL_DIRS", "PYTHONPATH")})
    wanted = cfg["per_layer"] if args.trace else cfg["end_to_end"]
    source = rec.get("layers", {}) if args.trace else {
        k: v["value"] for k, v in rec["e2e"].items()}
    metrics = {m["name"]: {"value": source.get(m["name"]), "unit": m["unit"]}
               for m in wanted}
    missing = [k for k, m in metrics.items() if m["value"] is None]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    correct = rec["failed"] == 0
    if args.trace:
        low = {k: v for k, v in rec["span_coverage"].items() if v < SPAN_COVERAGE_MIN}
        if low:
            correct = False
            rec["errors"].append(f"span coverage below {SPAN_COVERAGE_MIN}: {low}")
        untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            rec["trace_overhead"] = {
                k: rec["e2e"][k]["value"] - base[k]["value"] for k in base
                if rec["e2e"][k]["value"] is not None and base[k]["value"] is not None}
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    report(rec, env, (probe_pre, probe_post), cfg, metrics)
    if args.trace:
        print("# traced e2e " + json.dumps({k: v["value"] for k, v in rec["e2e"].items()}))
        print("# trace overhead (traced - untraced, same seed) "
              + json.dumps(rec.get("trace_overhead", "no untraced run of this seed")))
        print("# span coverage " + json.dumps(rec["span_coverage"]))
        print("# spark totals " + json.dumps(rec["spark"]))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
