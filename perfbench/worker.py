"""Spark-side half of the benchmark: one process that sets the engine up,
runs one workload as a closed loop of one client for a fixed time, and
pickles its timings and outputs (and, when traced, its per-layer numbers)
to the file ``run.py`` names; traced, it also writes its spans as JSON.
``run.py`` starts it; it is not meant to be run alone.

Every layer is timed from outside, around the benchmark's own calls into
the engine's public functions; nothing in the engine is changed."""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import sys
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The mix: registered queries covering similarity, dedup, text,
# relational and the Python/Arrow boundary, with the tables each reads.
# Each pass also runs the batch 5-grain rollup over the events table.
MIX_QUERIES = {
    "q_dedup_embedding": ("embeddings",),
    "q_dedup_minhash": ("documents",),
    "q_text_contamination": ("documents",),
    "q_text_nb_classifier": ("documents",),
    "q_tpch_q2": ("lineitem", "nation", "part", "region", "supplier"),
    "q_fuzzy_join": ("part",),
    "q_udf_grouped_map": ("orders",),
}


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and all its descendants -- here
    the worker's own PySpark process, the Spark JVM and the Python workers --
    counting exited children through their parents' reaped-child times.
    Time the host steals from the VM is not charged to any process, so
    this holds steady when the host is busy and wall time does not."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    tree, frontier = {pid}, [pid]
    while frontier:
        parent = frontier.pop()
        kids = [c for c, (pp, _) in procs.items() if pp == parent]
        tree.update(kids)
        frontier += kids
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


# The mix's one batch cardinality operation:
# grain_fanout_rollup(load_table(mix dir, "events")), timed like a query.
ROLLUP_OP = "rollup"


class Tracer:
    """Spans kept in memory and written when the run ends.  Disabled, it
    records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, **attrs) -> str:
        sid = uuid.uuid4().hex[:16]
        if self.enabled:
            self.spans.append({"run_id": self.run_id, "span_id": sid,
                               "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name, parent=None, **attrs):
        sid = uuid.uuid4().hex[:16]
        rec = {"run_id": self.run_id, "span_id": sid, "parent": parent,
               "name": name, "start": time.time(), **attrs}
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self.spans.append(rec)

    def get(self, name) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of the
        intervals its children cover, clipped to the span."""
        kids: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] and s["start"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] is None or s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["span_id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.work = args.work
        self.layer: dict[str, float] = {}
        self.node_rows: list = []
        self.jobs: list = []
        self.planning_ms = 0.0

    # -- setup ------------------------------------------------------------
    def setup(self):
        tr = self.tracer
        with tr.span("setup") as setup_id:
            with tr.span("session.get_spark", setup_id):
                sys.path.insert(0, ROOT)
                from kafka_go_cardinality_spark.session import get_spark

                self.spark = get_spark(master=self.args.master)
            with tr.span("queries.import", setup_id):
                import __spark_entry__ as entry

                self.registry = entry.queries()
                self.oracles = entry.oracle_sql()
            with tr.span("warmup", setup_id):
                self.warmup()
        self.setup_s = time.time() - self.args.t_spawn

    # -- traced op helpers ----------------------------------------------------
    @contextmanager
    def op(self, name, parent):
        """One measured operation.  Traced, its Spark jobs are tagged with
        the span id as job group and collected as child spans, and the SQL
        node metrics of the executions it created are kept."""
        if not self.tracer.enabled:
            with self.tracer.span(name, parent) as sid:
                yield sid
            return
        from sparkstats import execution_count, jobs_for_group, node_metrics

        sc = self.spark.sparkContext
        first = execution_count(self.spark)
        with self.tracer.span(name, parent) as sid:
            sc.setJobGroup(sid, name)
            try:
                yield sid
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.node_rows += node_metrics(self.spark, first)
        for job in jobs_for_group(self.spark, sid):
            self.jobs.append(job)
            self.tracer.add("spark.job", job["start"], job["end"], sid,
                            job_id=job["job_id"], stages=len(job["stages"]))

    def plan_batch(self, df):
        """Traced only: planning phases of the DataFrame the op writes
        (QueryPlanningTracker), forced before the write."""
        if self.tracer.enabled:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                self.planning_ms += it.next()._2().durationMs()

    # -- workloads --------------------------------------------------------
    def warmup(self):
        getattr(self, f"warmup_{self.args.workload}")()

    def measure(self):
        with self.tracer.span("measure") as mid:
            cpu0 = tree_cpu_s(os.getpid())
            result = getattr(self, f"measure_{self.args.workload}")(mid)
            result["cpu_s"] = (tree_cpu_s(os.getpid()) - cpu0) / result["units"]
            return result

    def _inputs(self) -> dict:
        with open(os.path.join(self.work, "inputs.json")) as fh:
            return json.load(fh)

    def _deadline(self, start, count):
        return count == 0 or time.perf_counter() - start < self.args.seconds

    # streams
    def _stream_stats(self, path):
        from kafka_go_cardinality_spark.streaming import pipeline as P

        raw = self.spark.readStream.option("maxFilesPerTrigger", 1).text(path)
        return P.stream_grain_fanout(P.parse_user_events(raw))

    def _replay(self, path, parent=None):
        from kafka_go_cardinality_spark.streaming.pipeline import replay_to_memory

        table = f"bench_{uuid.uuid4().hex[:8]}"
        with self.op("streaming.replay", parent) as sid:
            t0 = time.perf_counter()
            query = replay_to_memory(self._stream_stats(path), table)
            wall = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in query.recentProgress]
        if self.tracer.enabled:
            from sparkstats import jobs_for_group

            batches = []
            for p in progress:
                start = _iso_epoch(p["timestamp"])
                end = start + p["durationMs"].get("triggerExecution", 0) / 1000
                bid = self.tracer.add("streaming.microbatch", start, end, sid,
                                      batch_id=p["batchId"], input_rows=p["numInputRows"])
                batches.append((start, end, bid))
            for job in jobs_for_group(self.spark, str(query.runId)):
                self.jobs.append(job)
                parent = next((b for a, e, b in batches if a <= job["start"] <= e), sid)
                self.tracer.add("spark.job", job["start"], job["end"], parent,
                                job_id=job["job_id"], stages=len(job["stages"]))
        return table, wall, progress

    def warmup_stream_hll(self):
        table, _, _ = self._replay(os.path.join(self.work, "wire_warm"))
        self.spark.catalog.dropTempView(table)

    def measure_stream_hll(self, mid):
        """One full replay of the wire, which takes about ``--seconds``.  A
        second replay would be warmer, and averaging it in would lower the
        per-unit CPU only because it came second, so the run stops here."""
        lines = self._inputs()["events"]
        table, wall, progress = self._replay(os.path.join(self.work, "wire"), mid)
        rows = [tuple(r) for r in self.spark.table(table).collect()]
        self.spark.catalog.dropTempView(table)
        if self.tracer.enabled:
            self.stream_layers([progress], len(rows))
        return {
            "units": 1,
            "unit_s": [wall],
            "run_s": wall,
            "events_per_s": lines / wall,
            "op_ms": [p["durationMs"]["triggerExecution"] for p in progress],
            "rows": rows,
        }

    # rollup
    def _rollup(self, sf_dir, parent=None, collect=False):
        from kafka_go_cardinality_spark.operators.cardinality import grain_fanout_rollup
        from kafka_go_cardinality_spark.sources import load_table

        with self.op("cardinality.grain_fanout_rollup", parent) as sid:
            t0 = time.perf_counter()
            with self.tracer.span("sources.load_table", sid):
                events = load_table(self.spark, sf_dir, "events")
            df = grain_fanout_rollup(events)
            self.plan_batch(df)
            if collect:
                return [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    def warmup_rollup(self):
        self._rollup(os.path.join(self.work, "mix"))

    def measure_rollup(self, mid):
        """The rollup alone: the single-core baseline for the mix's rollup."""
        walls, start = [], time.perf_counter()
        while self._deadline(start, len(walls)):
            walls.append(self._rollup(os.path.join(self.work, "mix"), mid))
        return {"units": len(walls), "unit_s": walls, "run_s": statistics.median(walls),
                "op_ms": [w * 1000 for w in walls]}

    # mix
    def warmup_mix(self):
        """One pass over the mix that collects every query's rows and the
        rollup's windows for the checks; it also pays each one-time cost."""
        sf_dir = os.path.join(self.work, "mix")
        results, errors = {}, {}
        for name in MIX_QUERIES:
            try:
                results[name] = self.registry[name](self.spark, sf_dir).toPandas()
            except Exception as exc:  # counted as a failed query, never dropped
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        with open(os.path.join(self.work, "mix_rows.pkl"), "wb") as fh:
            pickle.dump(results, fh)
        self.rollup_rows = self._rollup(sf_dir, collect=True)
        self.mix_errors = errors

    def measure_mix(self, mid):
        """A closed loop over the mix queries and the rollup in order,
        stopping after the first operation that ends past the deadline
        (always at least one full pass).  A pass's time is the sum of each
        operation's median time."""
        sf_dir = os.path.join(self.work, "mix")
        table_rows = self._inputs()["table_rows"]
        rows_per_pass = table_rows["events"] + sum(
            table_rows[t] for ts in MIX_QUERIES.values() for t in ts)
        ops = [*MIX_QUERIES, ROLLUP_OP]
        per_op = {name: [] for name in ops}
        start, done = time.perf_counter(), 0
        while done < len(ops) or time.perf_counter() - start < self.args.seconds:
            name = ops[done % len(ops)]
            t0 = time.perf_counter()
            if name == ROLLUP_OP:
                self._rollup(sf_dir, mid)
            else:
                try:
                    with self.op(f"query.{name}", mid):
                        df = self.registry[name](self.spark, sf_dir)
                        self.plan_batch(df)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    self.mix_errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
            per_op[name].append(time.perf_counter() - t0)
            done += 1
        medians = {name: statistics.median(w) for name, w in per_op.items()}
        run_s = sum(medians.values())
        if self.tracer.enabled:
            from kafka_go_cardinality_spark.sources import load_table

            self.batch_layers(done / len(ops))
            for name in MIX_QUERIES:
                self.layer[f"query.{name}_s"] = medians[name]
            self.layer["sources.scan_tasks"] = float(
                load_table(self.spark, sf_dir, "events").rdd.getNumPartitions())
        return {
            "units": done / len(ops),
            "unit_s": list(medians.values()),
            "run_s": run_s,
            "events_per_s": rows_per_pass / run_s,
            "op_ms": [w * 1000 for walls in per_op.values() for w in walls],
            "rollup_s": medians[ROLLUP_OP],
            "rows": self.rollup_rows,
            "errors": self.mix_errors,
            "oracles": {q: self.oracles.get(q) for q in MIX_QUERIES},
        }

    # -- per-layer numbers (traced runs) ------------------------------------
    def batch_layers(self, units):
        self.layer["exec.planning_ms"] = self.planning_ms / units
        self.common_layers(units)

    def stream_layers(self, progress_all, final_windows):
        from sparkstats import sum_metrics

        units = len(progress_all)
        flat = [p for run in progress_all for p in run]
        n = len(flat)

        def per_batch(key):
            return sum(p["durationMs"].get(key, 0) for p in flat) / n

        def state(field, batches):
            return sum(op.get(field, 0) for p in batches for op in p["stateOperators"])

        emitted = sum(p["sink"].get("numOutputRows", 0) for p in flat) / units
        parsed = sum_metrics(self.node_rows, lambda n: n == "Filter",
                             lambda m: m == "number of output rows")
        read = sum(p["numInputRows"] for p in flat)
        last = [run[-1] for run in progress_all]
        self.layer.update({
            "streaming.batches": n / units,
            "streaming.query_planning_ms": per_batch("queryPlanning"),
            "streaming.latest_offset_ms": per_batch("latestOffset"),
            "streaming.get_batch_ms": per_batch("getBatch"),
            "streaming.wal_commit_ms": per_batch("walCommit"),
            "streaming.commit_offsets_ms": per_batch("commitOffsets"),
            "streaming.add_batch_ms": per_batch("addBatch"),
            "streaming.emitted_rows": emitted,
            "streaming.emit_amplification": emitted / max(final_windows, 1),
            "streaming.state_rows": state("numRowsTotal", last) / units,
            "streaming.state_bytes": state("memoryUsedBytes", last) / units,
            "streaming.state_commit_ms": state("commitTimeMs", flat) / n,
            "streaming.state_update_ms": state("allUpdatesTimeMs", flat) / n,
            "streaming.state_instances": state("numStateStoreInstances", last) / units,
            "streaming.dropped_ratio": 1.0 - parsed / read if read else 0.0,
            "exec.planning_ms": per_batch("queryPlanning") * n / units,
        })
        self.common_layers(units)

    def common_layers(self, units):
        from sparkstats import sum_metrics

        rows = self.node_rows

        def node(pred_node, pred_metric):
            return sum_metrics(rows, pred_node, pred_metric) / units

        def any_node(_):
            return True

        def is_agg(n):
            return n == "ObjectHashAggregate"

        def is_exchange(n):
            return "Exchange" in n

        def is_scan(n):
            return n.startswith("Scan")

        stages = [s for j in self.jobs for s in j["stages"]]
        self.layer.update({
            "cardinality.agg_build_ms": node(is_agg, lambda m: m == "time in aggregation build"),
            "cardinality.sort_fallback_tasks": node(is_agg, lambda m: m == "number of sort fallback tasks"),
            "cardinality.shuffle_records": node(is_exchange, lambda m: m == "shuffle records written"),
            "cardinality.shuffle_bytes": node(is_exchange, lambda m: m == "shuffle bytes written"),
            "cardinality.spill_bytes": node(any_node, lambda m: m == "spill size"),
            "sources.scan_ms": node(is_scan, lambda m: m == "scan time"),
            "sources.scan_rows": node(is_scan, lambda m: m == "number of output rows"),
            "sources.files_read": node(is_scan, lambda m: m == "number of files read"),
            "exec.jobs": len(self.jobs) / units,
            "exec.stages": len(stages) / units,
            "exec.tasks": sum(s["tasks"] for s in stages) / units,
            "exec.failed_tasks": sum(s["failed_tasks"] for s in stages) / units,
            "exec.run_ms": sum(s["run_ms"] for s in stages) / units,
            "exec.cpu_ms": sum(s["cpu_ms"] for s in stages) / units,
            "exec.gc_ms": sum(s["gc_ms"] for s in stages) / units,
            "functions.py_start_ms": node(any_node, lambda m: "start Python workers" in m),
            "functions.py_init_ms": node(any_node, lambda m: "initialize Python workers" in m),
            "functions.py_run_ms": node(any_node, lambda m: "run Python workers" in m),
            "functions.py_bytes_sent": node(any_node, lambda m: m == "data sent to Python workers"),
            "functions.py_bytes_returned": node(any_node, lambda m: m == "data returned from Python workers"),
        })
        self.layer.setdefault("sources.scan_tasks", 0.0)


def _iso_epoch(stamp: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--master", default=None)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()

    run = Run(args)
    run.setup()
    if args.trace:
        # The same process measures untraced, then traced; the ratio of
        # the two is the tracing overhead.
        tracer = run.tracer
        tracer.enabled = False
        plain = run.measure()
        tracer.enabled = True
        run.node_rows, run.jobs, run.planning_ms = [], [], 0.0
        result = run.measure()
        result["plain"] = plain
        layer = run.layer
        for name in ("session.get_spark", "queries.import"):
            span = tracer.get(name)[0]
            layer[name.split(".")[0] + (".start_s" if "spark" in name else ".import_s")] = (
                span["end"] - span["start"])
        layer["trace.overhead"] = result["run_s"] / plain["run_s"]
        result["layer"] = layer
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump({"run_id": tracer.run_id, "spans": tracer.spans,
                           "self_s": tracer.self_times()}, fh)
    else:
        result = run.measure()
    result["setup_s"] = run.setup_s
    result["spark_version"] = run.spark.version
    result["java_version"] = run.spark._jvm.java.lang.System.getProperty("java.version")
    with open(args.out, "wb") as fh:
        pickle.dump(result, fh)
    run.spark.stop()


if __name__ == "__main__":
    main()
