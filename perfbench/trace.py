"""Spans, streaming progress and event-log metrics.

Every timed call into the engine is wrapped in a :class:`Spans` span
(name, id, parent, start, end); the end-to-end metrics are computed
from those spans. A traced run (``--trace 1``) additionally enables
Spark's event log and folds jobs, stages, tasks and SQL metrics into
the span that was open when each job was submitted (one client runs
one call at a time, so submission time identifies the span). Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "wall0": time.time(),
            "t0": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["wall1"] = rec["wall0"] + (rec["t1"] - rec["t0"])
            rec["dur"] = rec["t1"] - rec["t0"]

    def of(self, name: str, **match) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name
            and "dur" in s
            and all(s.get(k) == v for k, v in match.items())
        ]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid and "dur" in s]

    def within(self, outer: dict, name: str) -> list[dict]:
        """Spans named ``name`` below ``outer`` (any depth)."""
        ids = {outer["id"]}
        out = []
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name and "dur" in s:
                    out.append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        child spans (children of one parent never overlap)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if "dur" not in s:
                continue
            kids = sum(c["dur"] for c in self.children(s["id"]))
            out[s["name"]] = out.get(s["name"], 0.0) + s["dur"] - kids
        return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot, summed over this machine's
    CPUs, from ``/proc/stat``; stolen ticks are those the hypervisor
    gave to other guests. (0, 0) where there is no ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time stolen between two :func:`cpu_ticks` readings."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


class ProgressLog:
    """Structured Streaming progress, via the public
    ``StreamingQueryListener``: one record per micro-batch."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.batches: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                log.batches.append(
                    {
                        "name": p.name,
                        "batch_id": p.batchId,
                        "ts": p.timestamp,
                        "rows": int(p.numInputRows or 0),
                        "batch_s": (p.batchDuration or 0) / 1000.0,
                        "source_s": (
                            d.get("latestOffset", 0) + d.get("getBatch", 0)
                        )
                        / 1000.0,
                        "sink_s": d.get("addBatch", 0) / 1000.0,
                        "commit_s": (
                            d.get("walCommit", 0) + d.get("commitOffsets", 0)
                        )
                        / 1000.0,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def settle(self, quiet: float = 0.3, timeout: float = 3.0) -> None:
        """Listener events arrive asynchronously: wait (outside any
        timed region) until none has arrived for ``quiet`` seconds."""
        end = time.time() + timeout
        seen = -1
        while len(self.batches) != seen and time.time() < end:
            seen = len(self.batches)
            time.sleep(quiet)

    def during(self, spans: list[dict]) -> list[dict]:
        """Micro-batches whose trigger started inside one of ``spans``."""
        from datetime import datetime

        out = []
        for b in self.batches:
            t = datetime.fromisoformat(b["ts"].replace("Z", "+00:00")).timestamp()
            if any(s["wall0"] - 0.001 <= t <= s["wall1"] for s in spans):
                out.append(b)
        return out


# ---------------------------------------------------------------------------
# event log

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInArrow, FlatMapGroupsInPandas, ...) in Spark 4.1
PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_boot_ms",
    "data sent to Python workers": "py_bytes_sent",
    "number of output rows": "py_rows_out",
}


def _walk(plan: dict, out: list) -> None:
    out.append(plan)
    for c in plan.get("children", []):
        _walk(c, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs (with submission wall time), per-job task totals, and SQL
    metric totals for Python nodes and corpus-index scans."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_kind: dict[int, tuple[str, int | None]] = {}
    acc_val: dict[int, float] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    jobs[jid] = {
                        "wall": ev["Submission Time"] / 1000.0,
                        "stages": 0,
                        "tasks": 0,
                        "run_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_w": 0,
                        "shuffle_r": 0,
                        "spill": 0,
                        "result_bytes": 0,
                        "in_bytes": 0,
                        "in_rows": 0,
                        "exec_id": int(eid) if eid is not None else None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is not None and m:
                        j = jobs[jid]
                        j["tasks"] += 1
                        j["run_s"] += m["Executor Run Time"] / 1000.0
                        j["gc_s"] += m["JVM GC Time"] / 1000.0
                        j["result_bytes"] += m["Result Size"]
                        j["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                        sw = m.get("Shuffle Write Metrics") or {}
                        j["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                        sr = m.get("Shuffle Read Metrics") or {}
                        j["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        im = m.get("Input Metrics") or {}
                        j["in_bytes"] += im.get("Bytes Read", 0)
                        j["in_rows"] += im.get("Records Read", 0)
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a["ID"] in acc_kind and "Update" in a:
                            acc_val[a["ID"]] = acc_val.get(a["ID"], 0) + float(
                                a["Update"]
                            )
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    eid = ev["executionId"]
                    nodes: list = []
                    _walk(ev["sparkPlanInfo"], nodes)
                    for n in nodes:
                        name = n.get("nodeName", "")
                        if "Python" in name or "InArrow" in name or "InPandas" in name:
                            for m in n.get("metrics", []):
                                key = PY_METRICS.get(m["name"])
                                if key:
                                    acc_kind[m["accumulatorId"]] = (key, eid)
                        loc = (n.get("metadata") or {}).get("Location", "")
                        if name.startswith("Scan") and "/corpus" in loc:
                            for m in n.get("metrics", []):
                                if m["name"] == "number of files read":
                                    acc_kind[m["accumulatorId"]] = ("files_read", eid)
                elif kind.endswith("DriverAccumUpdates"):
                    for aid, v in ev.get("accumUpdates", []):
                        if aid in acc_kind:
                            acc_val[aid] = acc_val.get(aid, 0) + float(v)
    # SQL metric totals per execution id
    sql: dict[int, dict[str, float]] = {}
    for aid, (key, eid) in acc_kind.items():
        if aid in acc_val:
            d = sql.setdefault(eid, {})
            d[key] = d.get(key, 0.0) + acc_val[aid]
    return {"jobs": jobs, "sql": sql}


def jobs_in(log: dict, spans: list[dict]) -> list[dict]:
    return [
        j
        for j in log["jobs"].values()
        if any(s["wall0"] - 0.002 <= j["wall"] <= s["wall1"] + 0.002 for s in spans)
    ]


def sql_in(log: dict, jobs: list[dict], key: str) -> float:
    eids = {j["exec_id"] for j in jobs if j["exec_id"] is not None}
    return sum(log["sql"].get(e, {}).get(key, 0.0) for e in eids)
