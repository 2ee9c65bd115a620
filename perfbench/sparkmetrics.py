"""Spark-side layer numbers, harvested from outside the program.

Two sources, normalized to one node shape
``{"name", "metrics": {key: value}, "dist": {key: (min, med, max)},
"child", "partition_bytes"}`` with times in seconds and sizes in bytes:

* `plan_nodes` walks a DataFrame's executed plan after its action,
  unwrapping ``AdaptiveSparkPlanExec`` and ``*QueryStageExec`` and
  skipping the codegen wrappers, so each operator appears once with its
  raw SQLMetric values.
* `status_nodes` reads executions that ran inside library calls (the
  writes of ``run_pipeline``) from the session's SQL status store, whose
  formatted metric strings carry the per-task min/med/max.

`summarize` turns either into the ``plans.job.*`` and
``operators.extract_op.*`` metrics; `job_stats` reads jobs, tasks and
stage intervals from the core status store.
"""

from __future__ import annotations

import re
import statistics
from collections import Counter

# codegen wrappers: their child is the operator that carries the metrics
_WRAPPERS = ("WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec")
_STATUS_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "ColumnarToRow")

_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1, "sum": 1}

# SQL status store display names -> SQLMetric keys
_DISPLAY = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "number of output rows": "numOutputRows",
    "shuffle bytes written": "shuffleBytesWritten",
    "shuffle records written": "shuffleRecordsWritten",
    "shuffle write time": "shuffleWriteTime",
    "fetch wait time": "fetchWaitTime",
    "data size": "dataSize",
    "local bytes read": "localBytesRead",
    "remote bytes read": "remoteBytesRead",
    "scan time": "scanTime",
    "size of files read": "filesSize",
    "written output": "numOutputBytes",
    "number of written files": "numFiles",
    "job commit time": "jobCommitTime",
    "task commit time": "taskCommitTime",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)\s*$")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def parse_value(text: str) -> float:
    """'2,029' -> 2029; '2.9 MiB' -> bytes; '1.5 s' / '18 ms' -> seconds."""
    m = _VALUE_RE.match(text)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def parse_metric(text: str) -> tuple[float, tuple | None]:
    """A status-store metric string -> (total, (min, med, max) or None).

    Per-task metrics read
    ``total (min, med, max (stageId: taskId))\\n<t> (<a>, <b>, <c> (stage ..))``.
    """
    if "\n" not in text:
        return parse_value(text), None
    line = text.split("\n", 1)[1]
    total, rest = line.split(" (", 1)
    parts = rest.split(", ")
    dist = (parts[0], parts[1], parts[2].split(" (", 1)[0])
    return parse_value(total), tuple(parse_value(p) for p in dist)


# --- executed plan ------------------------------------------------------------
def _unwrap(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _unwrap(node.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _unwrap(node.plan())
    return node


def _effective(node):
    """Skip codegen wrappers down to the operator that does the work."""
    node = _unwrap(node)
    while node.getClass().getSimpleName() in _WRAPPERS and node.children().size():
        node = _unwrap(node.children().apply(0))
    return node


def plan_nodes(df) -> list[dict]:
    """Every operator of `df`'s executed plan once, with raw metrics."""
    nodes, seen = [], set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        wrapped = stack.pop()
        stats = None
        if wrapped.getClass().getSimpleName() == "ShuffleQueryStageExec":
            opt = wrapped.mapStats()
            if opt.isDefined():
                stats = [int(b) for b in opt.get().bytesByPartitionId()]
        node = _unwrap(wrapped)
        if node.id() in seen:  # reused exchanges and subqueries
            continue
        seen.add(node.id())
        children = _seq(node.children())
        stack.extend(children)
        cls = node.getClass().getSimpleName()
        if cls in _WRAPPERS:
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            scale = _RAW_SCALE.get(kv._2().metricType())
            if scale is not None:
                metrics[kv._1()] = kv._2().value() * scale
        nodes.append({
            "name": node.nodeName().strip(),
            "metrics": metrics,
            "dist": {},
            "child": [_effective(c).nodeName().strip() for c in children],
            "partition_bytes": stats,
        })
    return nodes


# --- SQL status store -----------------------------------------------------------
def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def wait_listeners(spark) -> None:
    """Status stores are fed by the listener bus; drain it first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def execution_count(spark) -> int:
    return int(sql_store(spark).executionsCount())


def status_nodes(spark, first: int, last: int) -> list[dict]:
    """Operators of the SQL executions with list index in [first, last)."""
    store = sql_store(spark)
    nodes = []
    if last <= first:
        return nodes
    for ex in _seq(store.executionsList(first, last - first)):
        eid = ex.executionId()
        submitted = ex.submissionTime() / 1e3
        graph = store.planGraph(eid)
        values = store.executionMetrics(eid)
        by_id = {n.id(): n for n in _seq(graph.allNodes())}
        kids: dict[int, list[int]] = {}
        for e in _seq(graph.edges()):
            kids.setdefault(e.toId(), []).append(e.fromId())
        for nid, gnode in by_id.items():
            name = gnode.name().strip()
            if name.startswith(_STATUS_WRAPPERS):
                continue
            metrics, dist = {}, {}
            for m in _seq(gnode.metrics()):
                key = _DISPLAY.get(m.name())
                opt = values.get(m.accumulatorId())
                if key is None or not opt.isDefined():
                    continue
                metrics[key], d = parse_metric(opt.get())
                if d is not None:
                    dist[key] = d
            nodes.append({
                "name": name,
                "metrics": metrics,
                "dist": dist,
                "child": [_status_effective(by_id, kids, c) for c in kids.get(nid, [])],
                "partition_bytes": None,
                "execution": int(eid),
                "submitted": submitted,
            })
    return nodes


def _status_effective(by_id, kids, nid) -> str:
    name = by_id[nid].name().strip()
    while name.startswith(_STATUS_WRAPPERS) and kids.get(nid):
        nid = kids[nid][0]
        name = by_id[nid].name().strip()
    return name


# --- node list -> layer metrics ------------------------------------------------
def _total(nodes, key) -> float:
    return sum(n["metrics"].get(key, 0.0) for n in nodes)


def _ratio(hi: float, mid: float) -> float:
    return hi / mid if mid > 0 else 0.0


def is_row_exchange(node) -> bool:
    """A shuffle of rows, not the partial-to-final aggregate exchange."""
    return node["name"] == "Exchange" and not any(
        "Aggregate" in c for c in node["child"]
    )


def exchange_skew(node) -> float:
    """max / median partition bytes of one exchange: map-side partition
    sizes from the plan walk, or, from the status store (which keeps no
    partition sizes), the reduce tasks' local bytes read."""
    if node["partition_bytes"]:
        sizes = node["partition_bytes"]
        return _ratio(max(sizes), statistics.median(sizes))
    dist = node["dist"].get("localBytesRead")
    return _ratio(dist[2], dist[1]) if dist else 0.0


def summarize(nodes: list[dict]) -> dict:
    scans = [n for n in nodes if n["name"].startswith("Scan")]
    exchanges = [n for n in nodes if is_row_exchange(n)]
    python = [n for n in nodes if n["name"] == "MapInPandas"]
    per_plan = Counter(n.get("execution", 0) for n in exchanges)
    py_rows = _total(python, "pythonNumRowsReceived") or _total(python, "numOutputRows")
    py_total = _total(python, "pythonTotalTime")
    return {
        "plans.job.scan_s": _total(scans, "scanTime"),
        "plans.job.scan_bytes": _total(scans, "filesSize"),
        "plans.job.exchanges": max(per_plan.values(), default=0),
        "plans.job.exchange_bytes": _total(exchanges, "shuffleBytesWritten"),
        "plans.job.exchange_data_bytes": _total(exchanges, "dataSize"),
        "plans.job.exchange_records": _total(exchanges, "shuffleRecordsWritten"),
        "plans.job.exchange_write_s": _total(exchanges, "shuffleWriteTime"),
        "plans.job.exchange_fetch_wait_s": _total(exchanges, "fetchWaitTime"),
        "plans.job.exchange_skew": max(map(exchange_skew, exchanges), default=0.0),
        "operators.extract_op.python_total_s": py_total,
        "operators.extract_op.python_boot_s": _total(python, "pythonBootTime"),
        "operators.extract_op.python_init_s": _total(python, "pythonInitTime"),
        "operators.extract_op.bytes_to_python": _total(python, "pythonDataSent"),
        "operators.extract_op.bytes_from_python": _total(python, "pythonDataReceived"),
        "operators.extract_op.rows_per_busy_s": py_rows / py_total if py_total else 0.0,
    }


def write_nodes(nodes: list[dict]) -> list[dict]:
    return [n for n in nodes if n["name"].startswith("Execute InsertInto")]


# --- jobs, tasks, stages --------------------------------------------------------
def job_stats(spark, group: str) -> dict:
    """Jobs and tasks of a job group, the kernel stage's task skew and
    the wall intervals (epoch s) of every stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    intervals, tasks, kernel = [], 0, None
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = store.lastStageAttempt(sid)
            tasks += stage.numTasks()
            sub, done = stage.submissionTime(), stage.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            if kernel is None or stage.executorRunTime() > kernel.executorRunTime():
                kernel = stage
    skew = 0.0
    if kernel is not None:
        durations = [
            t.duration().get()
            for t in _seq(store.taskList(kernel.stageId(), kernel.attemptId(), 1 << 16))
            if t.duration().isDefined()
        ]
        if durations:
            skew = _ratio(max(durations), statistics.median(durations))
    return {
        "plans.job.spark_jobs": len(job_ids),
        "plans.job.tasks": tasks,
        "plans.job.task_skew": skew,
        "intervals": intervals,
    }
