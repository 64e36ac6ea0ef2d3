"""Readers for Spark's own public status data, called from outside the
engine: the SQL status store's per-node metrics, the app status store's
job and stage data, and streaming progress.  Used only by traced runs."""

from __future__ import annotations

import re

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it.  Sums read
    "1,234"; sizes and timings read "total (min, med, max ...)\\n84.3 MiB
    (...)", whose first value is the total.  Sizes come back in bytes and
    timings in milliseconds."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def node_metrics(spark, first_execution: int) -> list[tuple[str, str, float]]:
    """(node name, metric name, total) for every plan node of every SQL
    execution recorded after the first ``first_execution`` ones."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = store.executionsCount()
    out = []
    for ex in _seq(store.executionsList(first_execution, total - first_execution)):
        eid = ex.executionId()
        names = {}
        for node in _seq(store.planGraph(eid).allNodes()):
            for metric in _seq(node.metrics()):
                names[metric.accumulatorId()] = (node.name(), metric.name())
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            key = names.get(kv._1())
            if key is not None:
                out.append((key[0], key[1], parse_metric(kv._2())))
    return out


def sum_metrics(rows, node_pred, metric_pred) -> float:
    return sum(v for n, m, v in rows if node_pred(n) and metric_pred(m))


def jobs_for_group(spark, group: str) -> list[dict]:
    """Job spans and stage totals for every job of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    app = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        job = app.job(jid)
        start = job.submissionTime()
        end = job.completionTime()
        stages = []
        for sid in _seq(job.stageIds()):
            try:
                st = app.lastStageAttempt(sid)
            except Exception:  # stage skipped or evicted: no attempt data
                continue
            if str(st.status()) == "SKIPPED":
                continue
            stages.append({
                "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                "failed_tasks": st.numFailedTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": st.executorCpuTime() / 1e6,
                "gc_ms": st.jvmGcTime(),
            })
        jobs.append({
            "job_id": jid,
            "start": start.get().getTime() / 1000 if start.isDefined() else None,
            "end": end.get().getTime() / 1000 if end.isDefined() else None,
            "stages": stages,
        })
    return jobs
