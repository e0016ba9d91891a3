"""Spans around calls into hexspark modules, and what Spark recorded for them.

A span tags its jobs with ``setJobGroup`` and remembers the group id.
Nothing is read from Spark while a pass is timed: after the pass,
:meth:`Tracer.resolve` drains the listener bus and reads the status
stores (stage data for tasks, shuffle writes and spills; the SQL plan
graph for rows through Python-evaluated nodes and broadcast sizes).
Python-side broadcasts (``SparkContext.broadcast``, which has no plan
node) are counted as they are made, by their pickled size.
Spans stay in memory until :meth:`Tracer.dump` writes them at exit.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# plan-graph node names of Python-evaluated operators (mapInArrow,
# mapInPandas, Arrow/batch UDF evaluation, grouped pandas maps)
_PYTHON_NODE = re.compile(r"Python|InArrow|InPandas|ArrowEval|BatchEval")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> float:
    """'3.0 MiB' -> bytes (the SQL status store keeps formatted totals)."""
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


def _parse_count(text: str) -> int:
    m = re.match(r"\s*([\d,]+)", text or "")
    return int(m.group(1).replace(",", "")) if m else 0


def _skew(xs) -> float:
    """max / median of per-task figures (1.0 = even)."""
    return max(xs) / max(statistics.median(xs), 1)


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        self._hook_broadcast(spark.sparkContext)

    def _hook_broadcast(self, sc) -> None:
        """Add the pickled size of every ``sc.broadcast`` made inside a
        span to that span's ``py_broadcast_bytes``."""
        orig = sc.broadcast

        def broadcast(value):
            bc = orig(value)
            if self.enabled and self._stack:
                path = getattr(bc, "_path", None)
                size = os.path.getsize(path) if path and os.path.exists(path) else 0
                rec = self._stack[-1]
                rec["py_broadcast_bytes"] = rec.get("py_broadcast_bytes", 0) + size
            return bc

        sc.broadcast = broadcast

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._n += 1
        sid = f"{self.run_id}/{self._n}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setJobGroup(sid, sid, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        rec["overhead_s"] = rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]["id"]
                sc.setJobGroup(parent, parent, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            rec["overhead_s"] += time.perf_counter() - rec["end"]

    def overhead_of(self, span_id: str) -> float:
        """Bookkeeping time of a span and every span below it."""
        kids = {s["id"] for s in self.spans if s["parent"] == span_id}
        return sum(s["overhead_s"] for s in self.spans
                   if s["id"] == span_id or s["id"] in kids)

    def keep_plan(self, rec, df) -> None:
        """Remember the span's final DataFrame; :meth:`resolve` attaches
        its ``explain("formatted")`` outside the timed pass."""
        if rec is not None and df is not None:
            rec["_df"] = df

    def resolve(self) -> None:
        """Fill Spark's numbers into every span that has none yet."""
        todo = [s for s in self.spans if "tasks" not in s]
        if not todo:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        executions = list(conv.asJava(sql_store.executionsList()))
        by_desc: dict[str, list] = {}
        for ex in executions:
            by_desc.setdefault(ex.description(), []).append(ex.executionId())
        for rec in todo:
            df = rec.pop("_df", None)
            if df is not None:
                rec["explain"] = sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            tasks = failed = shuffle = spill = 0
            # the hot stage: the one that reads the most shuffled records,
            # i.e. where grouped rows land on their reducers
            hot = (0, 1.0, 1.0)  # (records read, time skew, records skew)
            for jid in tracker.getJobIdsForGroup(rec["id"]):
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    try:
                        data = store.stageAttempt(sid, 0, False, None, False, None)._1()
                    except Py4JJavaError:  # skipped stage: never ran
                        continue
                    tasks += data.numTasks()
                    failed += data.numFailedTasks()
                    shuffle += data.shuffleWriteBytes()
                    spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
                    read = data.shuffleReadRecords()
                    if data.numTasks() > 1 and read > hot[0]:
                        ms = [t.taskMetrics().get()
                              for t in conv.asJava(store.taskList(sid, 0, 100000))
                              if t.taskMetrics().isDefined()]
                        times = [m.executorRunTime() for m in ms]
                        recs = [m.shuffleReadMetrics().recordsRead() for m in ms]
                        if times:
                            hot = (read, _skew(times), _skew(recs))
            py_rows = 0
            bc_bytes = 0.0
            for eid in by_desc.get(rec["id"], ()):
                vals = sql_store.executionMetrics(eid)
                for node in conv.asJava(sql_store.planGraph(eid).allNodes()):
                    name = node.name()
                    for m in conv.asJava(node.metrics()):
                        v = vals.get(m.accumulatorId())
                        if v.isEmpty():
                            continue
                        if _PYTHON_NODE.search(name) and m.name() == "number of output rows":
                            py_rows += _parse_count(v.get())
                        elif name == "BroadcastExchange" and m.name() == "data size":
                            bc_bytes += _parse_size(v.get())
            rec.update(
                tasks=tasks,
                failed_tasks=failed,
                shuffle_write_bytes=shuffle,
                spill_bytes=spill,
                hot_stage_skew=hot[1],
                hot_read_skew=hot[2],
                python_rows=py_rows,
                broadcast_bytes=bc_bytes + rec.get("py_broadcast_bytes", 0),
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=str)


def descendants(root: int) -> list[int]:
    """Every process below ``root`` (one scan of /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it:
    user + system time, with that of reaped children.  Time the host
    steals from this machine's vCPUs is not in these counters, so a
    difference of two readings is the work done, not how long it waited."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / _TICK


def _tree_pss_bytes(root: int) -> dict[int, int]:
    """Proportional resident bytes of ``root`` and every process below
    it, by pid: pages shared by forked processes (Python workers forked
    from their daemon, a JVM between fork and exec) count once."""
    pss = {}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        pss[pid] = int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return pss


class RssSampler:
    """Peak proportional resident memory of this process tree (driver
    JVM, Python driver, Python workers), sampled every ``interval``
    seconds (each sample scans /proc, so keep it coarse)."""

    def __init__(self, interval: float = 1.0):
        self.peak = 0
        self.peak_parts: list[int] = []  # per-process bytes at the peak
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            rss = _tree_pss_bytes(pid)
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                self.peak_parts = sorted(rss.values(), reverse=True)
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
