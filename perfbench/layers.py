"""Tracing for the ``--trace 1`` runs: spans the benchmark records around
its calls into the engine, plus the counters Spark's status stores hold for
each query.

Span tree: run -> job -> query -> {build, exec} -> spark_job -> stage. The
benchmark opens run/job/query/build/exec spans itself; spark_job and stage
spans come from ``sc._jsc.sc().statusStore()``, linked to their query by the
job group the benchmark sets before each query. Per-operator SQL metrics
come from ``sharedState().statusStore()`` (values there are display
strings, parsed back below) and stage metrics are exact integers.
"""

from __future__ import annotations

import re
import time

PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsIn\w+|"
    r"FlatMapCoGroupsIn\w+|AggregateInPandas|WindowInPandas|\w*PythonUDTF)\b"
)
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> tuple[float, float]:
    """A SQL metric display string as ``(value, rounding)``: bytes for
    sizes, seconds for timings, plain numbers for counts. ``rounding`` is
    half a unit of the last digit shown, the most the display can be off.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first figure of the second line."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0, 0.0
    num, unit = m.group(1).replace(",", ""), m.group(2)
    decimals = len(num.split(".")[1]) if "." in num else 0
    scale = _UNITS.get(unit, 1.0)
    return float(num) * scale, 0.5 * 10.0 ** -decimals * scale if unit not in ("", "B") else 0.0


class Tracer:
    """Spans in memory, written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def open(self, name: str, layer: str, parent: int | None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "layer": layer, "start": time.time(), "end": None, **attrs})
        return len(self.spans) - 1

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.time()
        self.spans[sid].update(attrs)

    def add(self, name: str, layer: str, parent: int, start: float, end: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "layer": layer, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]


class StatusReader:
    """Reads what one query did from Spark's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def drain(self) -> None:
        """Wait until the listeners have seen every event posted so far, so
        the stores hold the final values of the finished actions."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def execution_count(self) -> int:
        return self._sql.executionsCount()

    def plans(self, first: int, count: int) -> list[str]:
        ex = self._sql.executionsList(first, count)
        return [ex.apply(i).physicalPlanDescription() for i in range(ex.size())]

    def jobs(self, group: str) -> list[dict]:
        out = []
        jl = self._store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            ids = j.stageIds()
            out.append({
                "job_id": j.jobId(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1e3 if comp.isDefined() else None,
                "stage_ids": [ids.apply(k) for k in range(ids.size())],
            })
        return out

    def stage(self, stage_id: int) -> dict | None:
        """The last attempt of a stage, or None if it was skipped."""
        s = self._store.lastStageAttempt(stage_id)
        if str(s.status()) == "SKIPPED" or not s.submissionTime().isDefined():
            return None
        d = {
            "stage_id": stage_id,
            "start": s.submissionTime().get().getTime() / 1e3,
            "end": s.completionTime().get().getTime() / 1e3 if s.completionTime().isDefined() else None,
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
            "task_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "peak_mem": s.peakExecutionMemory(),
            "output_bytes": s.outputBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_write_s": s.shuffleWriteTime() / 1e9,
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "mem_spill": s.memoryBytesSpilled(),
            "disk_spill": s.diskBytesSpilled(),
            "task_skew": 1.0,
        }
        if d["tasks"] > 1:
            summary = self._store.taskSummary(stage_id, s.attemptId(), self._quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, top = rt.apply(0), rt.apply(1)
                d["task_skew"] = top / med if med > 0 else 1.0
        return d

    def executions(self, first: int, count: int) -> list[dict]:
        """Every SQL execution in ``[first, first + count)``: its final plan
        text and its operators, each with its parsed metrics."""
        out = []
        ex = self._sql.executionsList(first, count)
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = graph.allNodes()
            parents: dict[int, int] = {}
            edges = graph.edges()
            for k in range(edges.size()):
                edge = edges.apply(k)
                parents[edge.fromId()] = edge.toId()
            ops = []
            for k in range(nodes.size()):
                n = nodes.apply(k)
                metrics: dict[str, tuple[float, float]] = {}
                ms = n.metrics()
                for a in range(ms.size()):
                    pm = ms.apply(a)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        metrics[pm.name()] = parse_metric(v.get())
                ops.append({"id": n.id(), "name": n.name(), "desc": n.desc(),
                            "parent": parents.get(n.id()), "metrics": metrics})
            out.append({"execution_id": eid, "plan": e.physicalPlanDescription(), "ops": ops})
        return out


def metric(ops: list[dict], name: str, node: str | None = None) -> float:
    return sum(o["metrics"].get(name, (0.0, 0.0))[0] for o in ops
               if node is None or o["name"].startswith(node))


def rounding(ops: list[dict], name: str, node: str | None = None) -> float:
    return sum(o["metrics"].get(name, (0.0, 0.0))[1] for o in ops
               if node is None or o["name"].startswith(node))


def kept_rows(ops: list[dict]) -> tuple[float, float]:
    """Rows the scans produced, and rows left after the first filter above
    each scan (a scan with no filter above keeps all its rows)."""
    by_id = {o["id"]: o for o in ops}
    scanned = kept = 0.0
    for o in ops:
        if not o["name"].startswith("Scan "):
            continue
        rows = o["metrics"].get("number of output rows", (0.0, 0.0))[0]
        scanned += rows
        up = by_id.get(o["parent"])
        while up is not None and up["name"] == "ColumnarToRow":
            up = by_id.get(up["parent"])
        if up is not None and up["name"] == "Filter":
            kept += up["metrics"].get("number of output rows", (rows, 0.0))[0]
        else:
            kept += rows
    return scanned, kept


def query_counters(execs: list[dict], stages: list[dict]) -> dict:
    """Layer counters of one query from its executions and stages."""
    ops = [o for e in execs for o in e["ops"]]
    plans = "\n".join(e["plan"] for e in execs)
    scanned, kept = kept_rows(ops)
    join_rows = [o["metrics"].get("number of output rows", (0.0, 0.0))[0]
                 for o in ops if o["name"].endswith("Join")]
    write_stages = [s for s in stages if s["output_bytes"] > 0]
    python_ops = [o for o in ops if PYTHON_NODE.search(o["name"])]
    counters = {
        "sources.scan_mb": metric(ops, "size of files read") / 2**20,
        "sources.scan_rows": scanned,
        "sources.scan_s": metric(ops, "scan time"),
        "sources.kept_rows": kept,
        "sources.write_mb": metric(ops, "written output") / 2**20,
        "sources.write_files": metric(ops, "number of written files"),
        "sources.write_rows": metric(ops, "number of output rows",
                                     "Execute InsertIntoHadoopFsRelationCommand"),
        "sources.write_s": sum(s["task_s"] for s in write_stages),
        "sources.commit_s": metric(ops, "task commit time") + metric(ops, "job commit time"),
        "sort.s": metric(ops, "sort time", "Sort"),
        "sort.spill_mb": metric(ops, "spill size", "Sort") / 2**20,
        "exchange.write_mb": sum(s["shuffle_write"] for s in stages) / 2**20,
        "exchange.read_mb": sum(s["shuffle_read"] for s in stages) / 2**20,
        "exchange.write_s": sum(s["shuffle_write_s"] for s in stages),
        "exchange.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "join.smj": float(len(re.findall(r"^\(\d+\) SortMergeJoin", plans, re.M))),
        "join.bhj": float(len(re.findall(r"^\(\d+\) BroadcastHashJoin", plans, re.M))),
        "join.broadcast_mb": metric(ops, "data size", "BroadcastExchange") / 2**20,
        "agg.build_s": metric(ops, "time in aggregation build"),
        "agg.peak_mb": max([o["metrics"].get("peak memory", (0.0, 0.0))[0] for o in ops
                            if "Aggregate" in o["name"]] or [0.0]) / 2**20,
        "agg.spill_mb": sum(o["metrics"].get("spill size", (0.0, 0.0))[0] for o in ops
                            if "Aggregate" in o["name"]) / 2**20,
        "aqe.coalesced_parts": metric(ops, "number of coalesced partitions", "AQEShuffleRead"),
        "aqe.skew_splits": metric(ops, "number of skewed partition splits", "AQEShuffleRead"),
        "python.boot_s": metric(ops, "time to start Python workers")
        + metric(ops, "time to initialize Python workers"),
        "python.run_s": metric(ops, "time to run Python workers"),
        "python.mb_sent": metric(ops, "data sent to Python workers") / 2**20,
        "python.rows_recv": sum(o["metrics"].get("number of output rows", (0.0, 0.0))[0]
                                for o in python_ops),
        "dedup.candidates": max(join_rows or [0.0]),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s["tasks"] for s in stages)),
        "exec.task_s": sum(s["task_s"] for s in stages),
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.peak_mem_mb": max([s["peak_mem"] for s in stages] or [0]) / 2**20,
        "exec.failed_tasks": float(sum(s["failed_tasks"] for s in stages)),
        "exec.task_skew": max([s["task_skew"] for s in stages] or [1.0]),
    }
    return {k: float(v) for k, v in counters.items()}
