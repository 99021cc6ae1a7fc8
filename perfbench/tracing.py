"""Per-operator spans measured from outside the library.

A span wraps one public operator call (phase "plan": the call itself,
including any eager jobs it runs) or the action that consumes its result
(phase "exec"). Each span tags its jobs with its own `setJobGroup` id;
after the workload call, `Tracer.collect` reads Spark's status stores for
those groups:

- jobs and their [submission, completion] intervals: `statusTracker`,
  `statusStore().job(id)`;
- per-stage executor run / CPU / GC time, shuffle and spill bytes:
  `statusStore().lastStageAttempt(stageId)`;
- SQL operator metrics (Python worker time and bytes, broadcast build
  time and bytes, band-join output rows): the SQL status store's plan
  graph, rendered with its metric values in one py4j call.

Spans nest: jobs belong to the innermost open span, and a span's own
wall time excludes its children. `NullTracer` is the untraced twin with
the same interface and no Spark calls.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"

_NODE = re.compile(
    r'\[id="node\d+" labelType="html" label="(?P<label>[^"]*)" tooltip="(?P<tip>(?:[^"\\]|\\.)*)"\]'
)
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
BC_TIME = ("time to collect", "time to build", "time to broadcast")


def parse_metric(text: str) -> float:
    """'6,000' -> 6000; '16.2 MiB' -> bytes; '3.3 s' / '622 ms' -> seconds."""
    parts = text.strip().split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS[parts[1]] if len(parts) > 1 else num


def parse_plan_graph(dot: str) -> list[tuple[str, str, dict[str, float]]]:
    """(node name, tooltip, {metric: value}) for every node of a rendered
    SQL plan graph. A metric aggregated over several tasks renders as
    'name total (min, med, max ...)' followed by 'TOTAL (...)'."""
    nodes = []
    for m in _NODE.finditer(dot):
        label = m.group("label")
        name = label.split("<b>", 1)[1].split("</b>", 1)[0].strip() if "<b>" in label else ""
        items = [x for x in label.split("</b>", 1)[-1].split("<br>") if x]
        metrics: dict[str, float] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if " total (min, med, max" in item and i + 1 < len(items):
                metrics[item.split(" total (", 1)[0]] = parse_metric(items[i + 1].split(" (", 1)[0])
                i += 2
                continue
            if ": " in item:
                k, v = item.split(": ", 1)
                try:
                    metrics[k] = parse_metric(v)
                except (ValueError, KeyError, IndexError):
                    pass
            i += 1
        nodes.append((name, m.group("tip"), metrics))
    return nodes


def sql_metrics(nodes) -> dict[str, float]:
    """The SQL-level numbers the benchmark reports, summed over nodes."""
    out = {"python_run_s": 0.0, "python_start_s": 0.0, "python_bytes": 0.0,
           "broadcast_s": 0.0, "broadcast_bytes": 0.0, "band_join_rows": 0.0}
    for name, tip, m in nodes:
        out["python_run_s"] += m.get(PY_RUN, 0.0)
        out["python_start_s"] += sum(m.get(k, 0.0) for k in PY_START)
        out["python_bytes"] += sum(m.get(k, 0.0) for k in PY_BYTES)
        if name == "BroadcastExchange":
            out["broadcast_s"] += sum(m.get(k, 0.0) for k in BC_TIME)
            out["broadcast_bytes"] += m.get("data size", 0.0)
        # the dedup band self-join: the join keyed on (band, bh)
        if name.endswith("Join") and re.search(r"\[band#\d+, bh#\d+L?\]", tip):
            out["band_join_rows"] += m.get("number of output rows", 0.0)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, op: str, phase: str):
        yield

    def collect(self) -> list[dict]:
        return []


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._stack: list[dict] = []
        self._spans: list[dict] = []
        self._n = 0
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = self._max_execution_id()
        self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP, False)

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        return -1 if n == 0 else int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    @contextmanager
    def span(self, op: str, phase: str):
        gid = f"perfbench-{self._n}"
        self._n += 1
        rec = {"op": op, "phase": phase, "group": gid, "children_s": 0.0}
        self._stack.append(rec)
        self.sc.setJobGroup(gid, gid, False)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(parent["group"] if parent else IDLE_GROUP,
                                parent["group"] if parent else IDLE_GROUP, False)
            if parent:
                parent["children_s"] += rec["wall_s"]
            self._spans.append(rec)

    def collect(self) -> list[dict]:
        """Attach status-store numbers to every span closed since the last
        collect, and return them (own time = wall minus children)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        spans, self._spans = self._spans, []
        by_group = {s["group"]: s for s in spans}
        for s in spans:
            s["self_s"] = s["wall_s"] - s["children_s"]
            jobs = sorted(tracker.getJobIdsForGroup(s["group"]))
            intervals, stage_ids = [], set()
            for j in jobs:
                jd = store.job(j)
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    a, b = sub.get().getTime() / 1e3, comp.get().getTime() / 1e3
                    intervals.append((max(a, s["start"]), min(b, s["end"])))
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s["jobs"] = len(jobs)
            s["job_s"] = union_length([iv for iv in intervals if iv[1] > iv[0]])
            agg = dict.fromkeys(("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                                 "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
            for sid in stage_ids:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                agg["stages"] += 1
                agg["tasks"] += sd.numCompleteTasks()
                agg["executor_run_s"] += sd.executorRunTime() / 1e3
                agg["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                agg["gc_s"] += sd.jvmGcTime() / 1e3
                agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                agg["shuffle_read_bytes"] += sd.shuffleReadBytes()
                agg["spill_bytes"] += sd.diskBytesSpilled()
            s.update(agg)
            s.update(sql_metrics([]))
        last = self._max_execution_id()
        for eid in range(self._last_exec + 1, last + 1):
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                continue
            s = by_group.get(opt.get().description())
            if s is None:
                continue
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for k, v in sql_metrics(parse_plan_graph(dot)).items():
                s[k] += v
        self._last_exec = last
        return spans
