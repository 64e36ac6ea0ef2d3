"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  It generates the workload's inputs from
the seed (outside every timed region), starts a worker process that sets
the engine up and runs the workload as a closed loop of one client for
``--seconds``, checks the outputs against exact DuckDB references, and
prints one JSON object as the last line of standard output.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are its per-layer ones, from a separately traced
worker, and the spans are written to ``perfbench/out/``.  Metric
definitions are in perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import pickle
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

WORKLOADS = ("stream_hll", "mix")
GRAINS = ("minute", "day", "week", "month", "year")
# An HLL estimate is random: at lg_k=14 its relative standard error is
# 1.04/sqrt(2^14) = 0.81%.  A window fails beyond 5 standard errors; the
# engine's self-asserted 2% (tests/test_accuracy.py) is 2.5 of them, which
# a correct sketch over a dense window misses about once in 80 windows,
# so windows beyond 2% are counted and listed but do not fail the run.
HLL_RSE = 1.04 / 2**7
HLL_FAIL = 5 * HLL_RSE
HLL_SELF_ASSERTED = 0.02
DEADLINE_S = 170.0

# Input sizes.  The stream wire is drained one file per trigger.
STREAM = {"events": 60_000, "users": 30_000, "files": 5, "malformed": 0.005}
STREAM_WARM = {"events": 12_000, "users": 30_000, "files": 1, "malformed": 0.005}
ROLLUP = {"rows": 3_000_000, "users": 150_000, "files": 8}  # the mix's events table
MIX_SCALE = 0.5


def fail(msg: str) -> None:
    print(msg, file=sys.stderr)
    sys.exit(1)


def host_env(work: str) -> dict:
    """Fit the engine to this host and keep every file it writes inside
    the work directory; every other engine default stays as it is."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "ckpt", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ)
    for key in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS"):
        env.pop(key, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(2, min(8, int(mem_gib // 5)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "KGC_CHECKPOINT_SCRATCH": os.path.join(work, "ckpt"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _status_kib(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/{'smaps_rollup' if field == 'Pss:' else 'status'}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_kib(pid: int) -> tuple[int, int]:
    """(Spark JVM high-water RSS, summed PSS of the Python workers) under
    the worker ``pid``.  The JVM's peak comes from the kernel's own
    high-water mark (VmHWM).  Python workers fork from one daemon and
    share pages, so they are counted by proportional set size; children
    the JVM spawns for shell commands are not counted, since until they
    exec they report the JVM's own memory."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
                procs[int(entry)] = (head.split("(", 1)[1], int(tail.split()[1]))
            except (OSError, IndexError, ValueError):
                pass
    jvm = [p for p, (comm, ppid) in procs.items() if ppid == pid and comm == "java"]
    tree, frontier = set(), list(jvm)
    while frontier:
        parent = frontier.pop()
        kids = [c for c, (_, pp) in procs.items() if pp == parent]
        tree.update(kids)
        frontier += kids
    python = sum(_status_kib(p, "Pss:") for p in tree if procs[p][0].startswith("python"))
    return sum(_status_kib(p, "VmHWM:") for p in jvm), python


def wait_group_gone(pgid: int, timeout_s: float = 30.0) -> None:
    """Wait until no live process (zombies aside) is left in the worker's
    process group: the JVM and the Python workers it forked."""
    end = time.time() + timeout_s
    while time.time() < end:
        alive = False
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[2]) == pgid and fields[0] != "Z":
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.1)


def run_worker(args, work, env, deadline, *, trace=0, master=None, seconds=None, spans=None,
               workload=None):
    """Start one worker, sample its process tree's RSS until it exits,
    and return its result with ``peak_rss_mb`` added."""
    out = os.path.join(work, f"result-{trace}-{master or 'n'}.pkl")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload or args.workload, "--work", work,
           "--seconds", str(args.seconds if seconds is None else seconds),
           "--trace", str(trace), "--out", out, "--t-spawn", repr(time.time())]
    if master:
        cmd += ["--master", master]
    if spans:
        cmd += ["--spans", spans]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                start_new_session=True)
    jvm_peak, py_peak = [0], [0]
    stop = threading.Event()

    def sample():
        while not stop.wait(0.2):
            jvm, py = memory_kib(proc.pid)
            jvm_peak[0] = max(jvm_peak[0], jvm)
            py_peak[0] = max(py_peak[0], py)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop.set()
        sampler.join()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group_gone(proc.pid)
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        fail(f"worker {'timed out' if code is None else f'exited {code}'}\n{tail}")
    with open(out, "rb") as fh:
        result = pickle.load(fh)
    result["peak_rss_mb"] = (jvm_peak[0] + py_peak[0]) / 1024
    return result


# -- inputs ---------------------------------------------------------------------
def make_inputs(workload: str, seed: int, work: str) -> dict:
    import gen

    if workload == "stream_hll":
        gen.write_wire(os.path.join(work, "wire_warm"), seed + 1, **STREAM_WARM)
        wire = gen.write_wire(os.path.join(work, "wire"), seed, **STREAM)
        info = {"events": wire["lines"], "malformed": wire["malformed"]}
        ref = {"uid": wire["uid"], "ts": wire["ts"],
               "malformed_share": wire["malformed"] / wire["lines"]}
    else:
        mix = os.path.join(work, "mix")
        table_rows = gen.write_mix_tables(mix, seed, MIX_SCALE)
        ev = gen.write_events_table(mix, seed, **ROLLUP)
        info = {"table_rows": {**table_rows, "events": ev["rows"]}}
        ref = {"uid": ev["uid"], "ts": ev["ts"]}
    with open(os.path.join(work, "inputs.json"), "w") as fh:
        json.dump(info, fh)
    return ref


# -- correctness ----------------------------------------------------------------
def exact_windows(ref: dict) -> dict:
    """Exact distinct users per (type, window start) by DuckDB."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register("ev", pa.table({"uid": ref["uid"], "ts": ref["ts"]}))
    sql = " UNION ALL ".join(
        f"SELECT '{g}_count' AS type, "
        f"epoch(date_trunc('{g}', make_timestamp(ts * 1000000)))::BIGINT AS w, "
        f"count(DISTINCT uid) AS n FROM ev GROUP BY 1, 2" for g in GRAINS)
    return {(t, w): n for t, w, n in con.execute(sql).fetchall()}


def check_windows(rows, exact: dict):
    """(attempted, failures, notes): window keys must match exactly and
    each estimate must be within HLL_FAIL of the exact count; windows
    beyond the self-asserted 2% are returned as notes.  The RMS relative
    error over dense windows (exact >= 10k) must also stay within twice
    the standard error, which a biased sketch would break."""
    got = {(t, w): v for t, w, v in rows}
    failures, notes, dense = [], [], []
    for key, n in exact.items():
        if key not in got:
            failures.append(f"missing window {key}")
            continue
        err = abs(got[key] - n) / n
        if err > HLL_FAIL:
            failures.append(f"window {key}: {got[key]} vs exact {n}")
        elif err > HLL_SELF_ASSERTED:
            notes.append(f"window {key}: {got[key]} vs exact {n}, beyond 2%")
        if n >= 10_000:
            dense.append(err)
    failures += [f"unexpected window {k}" for k in got.keys() - exact.keys()]
    attempted = len(exact.keys() | got.keys())
    if dense:
        attempted += 1
        rms = (sum(e * e for e in dense) / len(dense)) ** 0.5
        if rms > 2 * HLL_RSE:
            failures.append(f"RMS relative error {rms:.4f} over {len(dense)} dense windows")
    return attempted, failures, notes


def check(workload: str, work: str, ref: dict, result: dict):
    """(attempted, failures, notes) over the windows of the sketch output
    and, for the mix, over its queries."""
    attempted, failures, notes = check_windows(result["rows"], exact_windows(ref))
    if workload == "mix":
        import mixcheck

        with open(os.path.join(work, "mix_rows.pkl"), "rb") as fh:
            rows = pickle.load(fh)
        queries, bad = mixcheck.check(
            os.path.join(work, "mix"), rows, result["oracles"], result["errors"])
        attempted, failures = attempted + queries, failures + bad
    return attempted, failures, notes


# -- metrics --------------------------------------------------------------------
def end_to_end(result: dict) -> dict:
    return {
        "setup_s": result["setup_s"],
        "cpu_s": result["cpu_s"],
        "peak_rss_mb": result["peak_rss_mb"],
    }


def wall_metrics(result: dict) -> dict:
    """Wall-clock figures of the measured phase.  They follow the host's
    load, so they are reported, not gated."""
    return {
        "wall.run_s": result["run_s"],
        "wall.events_per_s": result["events_per_s"],
        "wall.op_ms_p50": statistics.median(result["op_ms"]),
        "wall.op_ms_p90": percentile(result["op_ms"], 0.9),
    }


def percentile(values, q):
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def provenance(args, before, result) -> dict:
    try:
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        rev = "unknown"
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 2),
        "loadavg_before": before, "loadavg_after": list(os.getloadavg()),
        "spark": result["spark_version"], "java": result["java_version"],
        "python": sys.version.split()[0], "git_rev": rev,
        "units": result["units"], "unit_s": result["unit_s"],
        "op_samples": len(result["op_ms"]), **wall_metrics(result),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    # A terminated run still stops its worker and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("__spark_entry__.py", "kafka_go_cardinality_spark", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    before = list(os.getloadavg())
    try:
        env = host_env(work)
        ref = make_inputs(args.workload, args.seed, work)
        if args.trace:
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            result = run_worker(args, work, env, deadline, trace=1, spans=spans)
            values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            values.update(result["layer"])
            values.update(wall_metrics(result["plain"]))
            # Single-core baselines in a separate process: the stream, and
            # the mix's rollup on its own.
            if args.workload == "stream_hll":
                single = run_worker(args, work, env, deadline, master="local[1]", seconds=0)
                values["streaming.core_scaling"] = single["run_s"] / result["plain"]["run_s"]
            else:
                single = run_worker(args, work, env, deadline, master="local[1]", seconds=0,
                                    workload="rollup")
                values["cardinality.core_scaling"] = single["run_s"] / result["plain"]["rollup_s"]
            names = spec["per_layer"]
        else:
            result = run_worker(args, work, env, deadline)
            values, names = end_to_end(result), spec["end_to_end"]
        attempted, failures, notes = check(args.workload, work, ref, result)
        if args.trace and args.workload == "stream_hll":
            attempted += 1
            dropped, share = values["streaming.dropped_ratio"], ref["malformed_share"]
            if abs(dropped - share) > 1e-9:
                failures.append(f"dropped_ratio {dropped} vs generated malformed share {share}")
        if args.trace:
            values["failed_ratio"] = len(failures) / attempted
            values["cardinality.windows_over_2pct"] = len(notes)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
        print(json.dumps({"provenance": provenance(args, before, result)}))
        for tag, lines in (("FAILED", failures), ("NOTE", notes)):
            for line in lines[:50]:
                print(f"{tag} {line}")
            if len(lines) > 50:
                print(f"{tag} ... {len(lines) - 50} more")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
