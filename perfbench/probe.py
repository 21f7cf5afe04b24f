"""Measurement plumbing shared by the workloads: host contention,
process-tree memory, Spark stage metrics from the status store, spans,
and an order-independent table digest.

Nothing here changes what the engine computes; every reading is taken
from outside the engine (``/proc`` and Spark's own status store, which
works with the UI disabled).
"""

from __future__ import annotations

import os
import statistics
import threading
import time

MB = 1024.0 * 1024.0


def median(values):
    return statistics.median(values) if values else 0.0


# --- host ------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class HostWindow:
    """Steal fraction and load average over one measured interval, so a
    noisy figure can be traced to host contention."""

    def __init__(self) -> None:
        self.load_start = loadavg()
        self._ticks = cpu_ticks()

    def close(self) -> dict:
        busy0, steal0 = self._ticks
        busy1, steal1 = cpu_ticks()
        return {
            "steal_frac": (steal1 - steal0) / max(1, busy1 - busy0),
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
        }


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (children of children too)."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command field is parenthesised and may hold spaces
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / MB


# --- Spark status store ----------------------------------------------------

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "inputBytes",
    "numTasks",
    "numFailedTasks",
)


class StageMeter:
    """Stage metrics of the Spark work run inside one ``with`` block.

    Stages and jobs get increasing ids, and the harness runs one call at
    a time, so the block's work is every stage and job whose id is above
    the highest one seen when the block opened."""

    def __init__(self, spark, task_detail: bool = False) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self.task_detail = task_detail
        self.result: dict = {}

    def _stages(self):
        al = self._jvm.java.util.ArrayList
        return self._store.stageList(
            al(), False, False, self._gw.new_array(self._jvm.double, 0), al()
        )

    def _max_ids(self) -> tuple[int, int]:
        # both lists come newest first
        st = self._stages()
        max_stage = st.apply(0).stageId() if st.length() else -1
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        max_job = jobs.apply(0).jobId() if jobs.length() else -1
        return max_stage, max_job

    def __enter__(self) -> "StageMeter":
        self._stage0, self._job0 = self._max_ids()
        return self

    def _task_quantiles(self, stage_id: int, attempt: int) -> dict | None:
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = self._store.taskSummary(stage_id, attempt, q)
        if not opt.isDefined():
            return None
        d = opt.get()
        run = d.executorRunTime()
        recs = d.shuffleReadMetrics().readRecords()
        inp = d.inputMetrics().recordsRead()
        return {
            "run_med": run.apply(0),
            "run_max": run.apply(1),
            "max_records": max(recs.apply(1), inp.apply(1)),
        }

    def __exit__(self, *exc) -> None:
        st = self._stages()
        agg = {f: 0 for f in STAGE_FIELDS}
        skew, share, heaviest = 1.0, 0.0, -1.0
        n_stages = 0
        for i in range(st.length()):
            s = st.apply(i)
            if s.stageId() <= self._stage0:
                break
            if str(s.status()) == "SKIPPED":
                continue
            n_stages += 1
            for f in STAGE_FIELDS:
                agg[f] += getattr(s, f)()
            if not self.task_detail or s.numTasks() < 1:
                continue
            tq = self._task_quantiles(s.stageId(), s.attemptId())
            if tq is None:
                continue
            if s.numTasks() > 1 and tq["run_med"] > 0:
                skew = max(skew, tq["run_max"] / tq["run_med"])
            records = s.shuffleReadRecords() + s.inputRecords()
            if records > 0 and tq["max_records"] > heaviest:
                heaviest = tq["max_records"]
                share = tq["max_records"] / records
        max_stage, max_job = self._max_ids()
        self.result = {
            "run_s": agg["executorRunTime"] / 1e3,
            "cpu_s": agg["executorCpuTime"] / 1e9,
            "gc_s": agg["jvmGcTime"] / 1e3,
            "shuffle_write_mb": agg["shuffleWriteBytes"] / MB,
            "spill_mb": agg["memoryBytesSpilled"] / MB,
            "input_bytes": agg["inputBytes"],
            "shuffle_write_bytes": agg["shuffleWriteBytes"],
            "tasks": agg["numTasks"],
            "failed_tasks": agg["numFailedTasks"],
            "stages": n_stages,
            "jobs": max_job - self._job0,
            "task_skew": skew,
            "max_task_share": share,
        }


class Spans:
    """In-memory spans around layer calls, written as JSON at the end of
    a run. Each span has a name, start and end (seconds since the run
    began), the span that caused it, and optional stage metrics."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.records: list[dict] = []
        self._open: list[int] = []

    class _Span:
        def __init__(self, owner: "Spans", name: str, meter) -> None:
            self.owner, self.name, self.meter = owner, name, meter
            self.wall_s = 0.0

        def __enter__(self):
            o = self.owner
            self.idx = len(o.records)
            o.records.append({
                "name": self.name,
                "parent": o._open[-1] if o._open else None,
            })
            o._open.append(self.idx)
            if self.meter is not None:
                self.meter.__enter__()
            self.start = time.perf_counter()
            return self

        def __exit__(self, *exc):
            end = time.perf_counter()
            self.wall_s = end - self.start
            if self.meter is not None:
                self.meter.__exit__(*exc)
            o = self.owner
            o._open.pop()
            rec = o.records[self.idx]
            rec["start_s"] = self.start - o.t0
            rec["end_s"] = end - o.t0
            rec["wall_s"] = self.wall_s
            if self.meter is not None:
                rec["stages"] = self.meter.result
            if exc[0] is not None:
                rec["error"] = repr(exc[1])
            return False

    def span(self, name: str, spark=None, task_detail: bool = False):
        """Time a block; with ``spark``, also read its stage metrics."""
        meter = StageMeter(spark, task_detail) if spark is not None else None
        return Spans._Span(self, name, meter)


# --- correctness -----------------------------------------------------------


def table_digest(df) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64) over every column of ``df``: equal
    for two tables holding the same multiset of rows, in any order or
    partitioning."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def parquet_bytes_rows(paths) -> tuple[int, int]:
    """(file bytes, rows) of parquet files, read from their footers."""
    import pyarrow.parquet as pq

    n_bytes = n_rows = 0
    for p in paths:
        n_bytes += os.path.getsize(p)
        n_rows += pq.read_metadata(p).num_rows
    return n_bytes, n_rows


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(d, f) for f in files
            if f.endswith(".parquet") and not f.startswith(".")
        )
    return sorted(out)
