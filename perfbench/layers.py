"""Per-layer metrics of a traced run.

Layers are the engine's package modules, seen from outside: the calls
the benchmark makes into them (spans), the jobs, stages and tasks Spark
ran inside those calls (event log), the SQL metrics of Python/Arrow
kernel nodes and corpus-index scans (event log), and micro-batch
progress (``StreamingQueryListener``). Every count, byte and time
below is a mean per timed pass (the lane set, or one request cycle of
``search_serving``), except the ``*_p50_s`` request medians, the
per-request ``build_s``/``exec_s`` means, and the per-run
``session.*`` values.
"""

from __future__ import annotations

import os
import statistics

from .trace import jobs_in, read_event_log, sql_in

#: per-layer metric -> (end-to-end metric it should move, the workload
#: where it should move it); one entry per reported metric.
#: ``functions`` compiles inline into the plans and has no call boundary
#: visible from outside, so it has no metric here; its cost shows in
#: ``plans.exec_s`` and ``plans.task_run_s``.
_CLICK = "click_stream"
_CURATION = "llm_curation (little on click_stream)"
_EXEC = "click_stream (little on search_serving)"
_PY = "llm_curation (near zero on click_stream)"
_SERVING = "search_serving"
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "session.cold_pass_s": ("none (one-shot job cost)", "click_stream, llm_curation"),
    "sources.scan_bytes": ("pass_s", _CLICK),
    "sources.scan_rows": ("pass_s", _CLICK),
    "plans.build_s": ("pass_s", _CURATION),
    "plans.build_jobs": ("pass_s", _CURATION),
    "plans.exec_s": ("pass_s", _EXEC),
    "plans.exec_jobs": ("pass_s", _EXEC),
    "plans.stages": ("pass_s", _EXEC),
    "plans.tasks": ("pass_s", _EXEC),
    "plans.task_run_s": ("pass_s", _EXEC),
    "plans.task_busy_frac": ("pass_s", _EXEC),
    "plans.gc_s": ("pass_s", _EXEC),
    "plans.shuffle_write_bytes": ("pass_s", _EXEC),
    "plans.shuffle_read_bytes": ("pass_s", _EXEC),
    "plans.spill_bytes": ("pass_s", _EXEC),
    "plans.driver_result_bytes": ("pass_s", _EXEC),
    "extensions.py_run_s": ("pass_s", _PY),
    "extensions.py_boot_s": ("pass_s", _PY),
    "extensions.py_bytes_sent": ("pass_s", _PY),
    "extensions.py_rows_out": ("pass_s", _PY),
    "extensions.ivf.knn_p50_s": ("pass_s", _SERVING),
    "extensions.ivf.build_s": ("pass_s", _SERVING),
    "extensions.ivf.exec_s": ("pass_s", _SERVING),
    "extensions.ivf.files_read_frac": ("pass_s", _SERVING),
    "extensions.ivf.append_p50_s": ("pass_s", _SERVING),
    "operators.search.p50_s": ("pass_s", _SERVING),
    "operators.search.build_s": ("pass_s", _SERVING),
    "operators.search.exec_s": ("pass_s", _SERVING),
    "streaming.batches": ("pass_s", _CLICK),
    "streaming.rows_in": ("pass_s", _CLICK),
    "streaming.rows_per_s": ("pass_s", _CLICK),
    "streaming.batch_s": ("pass_s", _CLICK),
    "streaming.source_s": ("pass_s", _CLICK),
    "streaming.commit_s": ("pass_s", _CLICK),
    "operators.upsert.sink_s": ("pass_s", _CLICK),
    "trace.unit_s": ("pass_s", "all: traced over untraced is the tracing overhead"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, log_dir: str, metrics: dict) -> dict:
    sp = run.spans
    units = run.units
    n = len(units)
    log = read_event_log(log_dir)
    unit_jobs = jobs_in(log, units)

    def under(name: str) -> list[dict]:
        return [s for u in units for s in sp.within(u, name)]

    def wall(u: dict) -> float:  # a pass's wall excludes its output checks
        return u.get("engine_s", u["dur"])

    def per_unit(spans: list[dict]) -> float:
        return sum(s["dur"] for s in spans) / n

    builds = under("build")
    execs = under("exec")
    build_jobs = jobs_in(log, builds)
    exec_jobs = jobs_in(log, execs)
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    busy_wall = sum(wall(u) for u in units)

    def tot(key: str, jobs=unit_jobs) -> float:
        return sum(j[key] for j in jobs)

    out: dict[str, tuple[float, str]] = {
        "session.start_s": (sp.of("session.start")[0]["dur"], "s"),
        "session.cold_pass_s": (run.cold_s, "s"),
        "sources.scan_bytes": (tot("in_bytes") / n, "bytes"),
        "sources.scan_rows": (tot("in_rows") / n, "count"),
        "plans.build_s": (per_unit(builds), "s"),
        "plans.build_jobs": (len(build_jobs) / n, "count"),
        "plans.exec_s": (per_unit(execs), "s"),
        "plans.exec_jobs": (len(exec_jobs) / n, "count"),
        "plans.stages": (tot("stages") / n, "count"),
        "plans.tasks": (tot("tasks") / n, "count"),
        "plans.task_run_s": (tot("run_s") / n, "s"),
        "plans.task_busy_frac": (
            tot("run_s") / (busy_wall * nproc) if busy_wall else 0.0,
            "ratio",
        ),
        "plans.gc_s": (tot("gc_s") / n, "s"),
        "plans.shuffle_write_bytes": (tot("shuffle_w") / n, "bytes"),
        "plans.shuffle_read_bytes": (tot("shuffle_r") / n, "bytes"),
        "plans.spill_bytes": (tot("spill") / n, "bytes"),
        "plans.driver_result_bytes": (tot("result_bytes") / n, "bytes"),
        "extensions.py_run_s": (sql_in(log, unit_jobs, "py_run_ms") / 1000 / n, "s"),
        "extensions.py_boot_s": (
            sql_in(log, unit_jobs, "py_boot_ms") / 1000 / n,
            "s",
        ),
        "extensions.py_bytes_sent": (sql_in(log, unit_jobs, "py_bytes_sent") / n, "bytes"),
        "extensions.py_rows_out": (sql_in(log, unit_jobs, "py_rows_out") / n, "count"),
    }

    # requests of the search_serving cycles
    reqs = under("request")
    knn = [r for r in reqs if r["kind"] == "knn"]
    search = [r for r in reqs if r["kind"] == "search"]
    ingest = [r for r in reqs if r["kind"] == "ingest"]

    def phase(rs: list[dict], name: str) -> float:
        return _mean(s["dur"] for r in rs for s in sp.within(r, name))

    def p50(rs: list[dict]) -> float:
        return statistics.median(r["dur"] for r in rs) if rs else 0.0

    knn_jobs = jobs_in(log, knn)
    files_read = sql_in(log, knn_jobs, "files_read")
    out.update(
        {
            "extensions.ivf.knn_p50_s": (p50(knn), "s"),
            "extensions.ivf.build_s": (phase(knn, "build"), "s"),
            "extensions.ivf.exec_s": (phase(knn, "exec"), "s"),
            "extensions.ivf.files_read_frac": (
                files_read / (run.corpus_files * len(knn))
                if knn and run.corpus_files
                else 0.0,
                "ratio",
            ),
            "extensions.ivf.append_p50_s": (p50(ingest), "s"),
            "operators.search.p50_s": (p50(search), "s"),
            "operators.search.build_s": (phase(search, "build"), "s"),
            "operators.search.exec_s": (phase(search, "exec"), "s"),
        }
    )

    # micro-batches of the timed passes (click_stream)
    run.progress.settle()
    batches = run.progress.during(units)

    def bsum(key: str) -> float:
        return sum(b[key] for b in batches) / n

    busy = bsum("batch_s")
    out.update(
        {
            "streaming.batches": (len(batches) / n, "count"),
            "streaming.rows_in": (bsum("rows"), "count"),
            "streaming.rows_per_s": (bsum("rows") / busy if busy else 0.0, "1/s"),
            "streaming.batch_s": (busy, "s"),
            "streaming.source_s": (bsum("source_s"), "s"),
            "streaming.commit_s": (bsum("commit_s"), "s"),
            "operators.upsert.sink_s": (bsum("sink_s"), "s"),
        }
    )
    out["trace.unit_s"] = (statistics.median(wall(u) for u in units), "s")
    # per call: the jobs, stages, tasks, shuffle and Python-kernel
    # metrics Spark ran inside it
    for s in sp.spans:
        if s["name"] in ("build", "exec", "append") and "dur" in s:
            js = jobs_in(log, [s])
            s["spark"] = {
                "jobs": len(js),
                **{k: tot(k, js) for k in ("stages", "tasks", "run_s", "shuffle_w",
                                           "shuffle_r", "result_bytes")},
                "py_run_s": sql_in(log, js, "py_run_ms") / 1000,
            }
    assert set(out) == set(MOVES), set(out) ^ set(MOVES)
    run.record["moves"] = MOVES
    run.record["self_s"] = sp.self_times()
    run.record["end_to_end_traced"] = {k: v for k, (v, _) in metrics.items()}
    return out
