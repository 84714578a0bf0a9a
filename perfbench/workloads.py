"""The three workloads.

Each workload runs session start (plus, for ``search_serving``, the
index builds) as its set-up, then one cold pass and untimed warm
passes (``WARM_PASSES``; ``WARM_CYCLES`` counts the cold one too), then
timed passes until ``seconds`` and at least ``MIN_PASSES`` passes have
been measured. A timed pass during which the hypervisor stole more
than ``STEAL_MAX`` of the CPU time is set aside and run again, at most
``MAX_SET_ASIDE`` times:

- ``click_stream`` and ``llm_curation``: a pass is the workload's lane
  set, each lane built with its catalog ``q.fn`` (the CDC lane with
  ``run_streaming``) and collected;
- ``search_serving``: a pass is one seeded, shuffled cycle of requests
  from one closed-loop client (2 index searches, 1 IVF top-k query,
  1 ingest write); the cold pass and ``WARM_CYCLES - 1`` warm passes
  are such cycles, untimed.

``pass_s`` is the median pass wall, counted inside the engine calls
only: output checks, hashing and bookkeeping run between them. Why
each input property is what it is: see ``inputs`` and the ``*_INPUTS``
below.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from . import inputs, oracle
from .trace import ProgressLog, Spans, cpu_ticks, steal_share

# lane sets --------------------------------------------------------------

#: streamed click lanes; the CDC lane goes through ``run_streaming``
#: with a fixed ``files_per_trigger``
CLICK_STREAMED = ["cdc_pipeline_streamed"]
CLICK_BATCH = [
    "doc_views",
    "latest_event_per_user",
    "cep_funnel_regex",
    "clickstream_mart_pipeline",
]
CDC_FILES_PER_TRIGGER = 4
CURATION = ["dedup_minhash_lsh", "semdedup_keep", "corpus_build_pipeline"]
#: timed passes (request cycles in ``search_serving``) per run, at
#: least. A run's passes move together with host speed: across ten
#: seeds a third pass (median of three) left the run-to-run spread
#: where the mean of two put it, and cost 4 s a run
MIN_PASSES = 2
#: a timed pass (or request cycle) during which the hypervisor stole
#: more than this share of the CPU time is set aside and run again, at
#: most ``MAX_SET_ASIDE`` times a run; set-aside passes stay in the run
#: record, and their lanes and requests count as attempted. In ten
#: click_stream runs on a 4-core guest, the five with a whole-run steal
#: share under 1% had pass walls of 3.2-3.6 s, and four of the five
#: with 2-9% had 4.3-4.9 s
STEAL_MAX = 0.01
MAX_SET_ASIDE = 2
#: untimed passes after the cold one in the lane workloads. Pass walls
#: keep falling for about 8 passes as the JVM compiles hot code; across
#: seeds on a 4-core host the timed passes' coefficient of variation
#: was 0.14-0.15 after the cold pass alone and 0.07-0.09 after two
#: more. ``search_serving`` warms up with one untimed request cycle.
WARM_PASSES = 2

# inputs ---------------------------------------------------------------------

#: click_stream: 50k events, 0.5x the sf0.1 table. At this size the
#: batch lanes run 1-task stages, so a pass costs per job, not per row,
#: and the run budget holds one cold, two warm and two timed passes.
#: Events are in ``ts`` order, as the testdata events are; no kept lane
#: reads arrival order. ``user_id`` is Zipf 0.8 where the testdata is
#: near uniform: web request popularity is Zipf-like with exponents
#: 0.64-0.83 (Breslau et al., "Web Caching and Zipf-like
#: Distributions", INFOCOM 1999), taken here as the shape of per-user
#: activity so the per-user lanes see hot keys. 5k documents (the sf0.1
#: count) with the measured 5% near-duplicate share feed the CDC
#: stream, 2 micro-batches at 4 files/trigger.
CLICK_INPUTS = {
    "events": {"n": 50_000, "zipf_s": 0.8},
    "documents": {"n": 5_000, "dup_share": 0.05},
}
#: llm_curation: the sf0.01 document count with the testdata's measured
#: 5% near-duplicate texts (the MinHash lane's matches), and 300
#: vectors with the same 5% share of near-duplicates, which the
#: testdata vectors lack, so SemDeDup has true duplicates to drop; 300
#: keeps the SemDeDup DuckDB oracle, run once per seed, near 1 s
CURATION_INPUTS = {
    "documents": {"n": 500, "dup_share": 0.05},
    "embeddings": {"n": 300, "dup_share": 0.05},
}
#: search_serving: requests cost plan build and round trips, not
#: volume; 400 vectors give a 20-centroid index in 2 ingest batches;
#: near-duplicate shares as in llm_curation
SERVING_INPUTS = {
    "documents": {"n": 1_000, "dup_share": 0.05},
    "embeddings": {"n": 400, "dup_share": 0.05},
}


class Run:
    """Per-run state shared by the workloads."""

    def __init__(self, args, work: str, trace: bool) -> None:
        self.args = args
        self.work = work
        self.trace = trace
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {}
        self.spark = None
        self.progress: ProgressLog | None = None
        self.run_dir = ""
        self.units: list[dict] = []  # timed passes
        self.corpus_files = 0
        self.cold_s = 0.0

    def fail(self, what: str) -> None:
        """Count a failed operation; inside an ``except`` block the
        traceback goes to stderr."""
        self.failed += 1
        if sys.exc_info()[0] is not None:
            traceback.print_exc(file=sys.stderr)
            what = f"{what}: {sys.exc_info()[1]!r}"[:300]
        if len(self.errors) < 20:
            self.errors.append(what)

    def start_session(self) -> float:
        from click_streaming_data_pipeline_spark.session import get_spark

        nproc = int(os.environ["SPARK_GRAFT_CPUS"])
        with self.spans.span("session.start") as s:
            self.spark = get_spark(
                "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc
            )
        self.progress = ProgressLog(self.spark)
        return s["dur"]

    def between_passes(self) -> None:
        """No result survives a pass: drop cached data and the lanes'
        scratch directories."""
        self.spark.catalog.clearCache()
        tmp = os.environ["TMPDIR"]
        for name in os.listdir(tmp):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


# batch-lane workloads -------------------------------------------------------


def _lane_fn(name: str):
    if name == "cdc_pipeline_streamed":
        from click_streaming_data_pipeline_spark.streaming.pipeline import (
            run_streaming,
        )

        return lambda spark, sf: run_streaming(
            spark, sf, files_per_trigger=CDC_FILES_PER_TRIGGER
        )
    from click_streaming_data_pipeline_spark.plans import QUERIES

    return QUERIES[name].fn


def _pass(run: Run, idx: int, kind: str, lanes: list[str], sf: str, exp: dict) -> dict:
    """One pass over ``lanes``. Its wall is the summed time inside the
    engine calls (build + collect); the output check runs outside."""
    fns = {n: _lane_fn(n) for n in lanes}
    wall = 0.0
    ticks = cpu_ticks()
    with run.spans.span("pass", idx=idx, kind=kind) as p:
        for name in lanes:
            run.attempted += 1
            with run.spans.span("lane", lane=name, idx=idx) as ls:
                try:
                    with run.spans.span("build", lane=name):
                        df = fns[name](run.spark, sf)
                    with run.spans.span("exec", lane=name):
                        rows = df.collect()
                    cols = df.columns
                except Exception:  # counted, reported, never fatal
                    rows, cols = None, None
                    run.fail(name)
            wall += sum(c["dur"] for c in run.spans.children(ls["id"]))
            if rows is not None and not oracle.matches(exp[name], rows, cols):
                run.fail(f"{name}: output differs from the oracle")
        p["engine_s"] = wall
    p["steal"] = steal_share(ticks, cpu_ticks())
    run.between_passes()
    return p


def _timed(run: Run, unit, min_units: int) -> tuple[list[dict], list[dict]]:
    """Timed units (``unit(idx)`` runs one) until ``seconds`` have passed
    and ``min_units`` were kept; returns (kept, set aside). A unit with
    a steal share above ``STEAL_MAX`` measured the host's other guests
    as much as the program, so it is set aside and run again, at most
    ``MAX_SET_ASIDE`` times."""
    kept: list[dict] = []
    aside: list[dict] = []
    t0 = time.perf_counter()
    while len(kept) < min_units or time.perf_counter() - t0 < run.args.seconds:
        u = unit(len(kept) + len(aside))
        if u["steal"] > STEAL_MAX and len(aside) < MAX_SET_ASIDE:
            aside.append(u)
        else:
            kept.append(u)
    return kept, aside


def _lane_workload(run: Run, lanes: list[str], spec: dict) -> dict:
    """Session start, one cold pass (every lane's first run), the warm
    passes, then the timed passes."""
    args = run.args
    sf = inputs.build(spec, args.seed, os.path.join(run.work, "inputs"))
    exp = oracle.expected(sf, lanes)
    setup_s = run.start_session()
    cold = _pass(run, 0, "cold", lanes, sf, exp)
    warm = [_pass(run, 1 + i, "warm", lanes, sf, exp) for i in range(WARM_PASSES)]
    timed, aside = _timed(
        run,
        lambda i: _pass(run, 1 + WARM_PASSES + i, "timed", lanes, sf, exp),
        MIN_PASSES,
    )
    run.units = timed
    pass_s = statistics.median(p["engine_s"] for p in timed)
    run.cold_s = cold["engine_s"]
    metrics = {"setup_s": (setup_s, "s"), "pass_s": (pass_s, "s")}
    # every micro-batch of a timed pass is an attempted operation
    run.progress.settle()
    batches = run.progress.during(timed)
    run.attempted += len(batches)
    if any(n in CLICK_STREAMED for n in lanes) and not batches:
        run.fail("no micro-batch progress was reported")
    walls = [p["engine_s"] for p in timed]
    run.record.update(
        inputs=spec,
        lanes=lanes,
        passes_s={
            "cold": cold["engine_s"],
            "warm": [p["engine_s"] for p in warm],
            "timed": walls,
            "set_aside": [p["engine_s"] for p in aside],
        },
        steal={
            "cold": cold["steal"],
            "warm": [p["steal"] for p in warm],
            "timed": [p["steal"] for p in timed],
            "set_aside": [p["steal"] for p in aside],
        },
        # how flat the timed passes are: last over first
        timed_last_over_first=walls[-1] / walls[0],
        micro_batches=len(batches),
        lane_s={
            n: [
                s["dur"] for p in timed for s in run.spans.within(p, "lane")
                if s["lane"] == n
            ]
            for n in lanes
        },
    )
    return metrics


def click_stream(run: Run) -> dict:
    return _lane_workload(run, CLICK_STREAMED + CLICK_BATCH, CLICK_INPUTS)


def llm_curation(run: Run) -> dict:
    return _lane_workload(run, CURATION, CURATION_INPUTS)


# search serving --------------------------------------------------------------

#: one timed request cycle, shuffled per cycle by the seed; ingest is
#: one request in four
CYCLE = ["search", "search", "knn", "ingest"]
#: untimed cycles before the timed ones, the first being the cold pass.
#: After one, the first timed cycle was slower than the second in all
#: of ten runs (by 12% at the median, mostly in the IVF query)
WARM_CYCLES = 2
N_BATCHES = 2  # corpus batch ids the ingest writes cycle over
TOPK = 10


class _Serving:
    def __init__(self, run: Run, sf: str) -> None:
        import pyarrow.parquet as pq

        self.run = run
        self.sf = sf
        self.inv_dir = os.path.join(run.run_dir, "index", "inverted")
        self.ivf_dir = os.path.join(run.run_dir, "index", "ivf")
        docs = pq.read_table(os.path.join(sf, "documents.parquet")).to_pydict()
        self.doc_ids = docs["doc_id"]
        self.doc_tokens = [t.lower().split(" ") for t in docs["text"]]
        emb = pq.read_table(os.path.join(sf, "embeddings.parquet"))
        self.vec_ids = np.asarray(emb.column("vec_id").to_pylist(), np.int64)
        self.vecs = np.asarray(emb.column("embedding").to_pylist(), np.float64)

    # -- set-up (timed as setup_s) -------------------------------------------
    def build(self) -> None:
        from pyspark.sql import functions as F

        from click_streaming_data_pipeline_spark.extensions.ivf import (
            append_ivf_index_batch,
            save_ivf_centroids,
        )
        from click_streaming_data_pipeline_spark.operators.search import (
            build_inverted_index,
        )

        spark, sp = self.run.spark, self.run.spans
        docs = spark.read.parquet(os.path.join(self.sf, "documents.parquet"))
        with sp.span("search.build_index"):
            build_inverted_index(docs, fields={"text": 1.0}).write.parquet(
                self.inv_dir
            )
        emb = spark.read.parquet(os.path.join(self.sf, "embeddings.parquet"))
        with sp.span("ivf.build_index"):
            save_ivf_centroids(emb, self.ivf_dir)
            for b in range(N_BATCHES):
                append_ivf_index_batch(
                    emb.filter(F.col("vec_id") % N_BATCHES == b), self.ivf_dir, b
                )
        self.emb = emb
        self.index = spark.read.parquet(self.inv_dir)

    # -- requests -----------------------------------------------------------
    def search(self, terms: list[str]):
        from pyspark.sql import functions as F

        from click_streaming_data_pipeline_spark.operators.search import (
            search_via_index,
        )

        sp = self.run.spans
        with sp.span("build"):
            df = (
                search_via_index(self.index, terms)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(TOPK)
            )
        with sp.span("exec"):
            return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]

    def knn(self, row: int):
        from click_streaming_data_pipeline_spark.extensions.ivf import ivf_index_topk

        sp = self.run.spans
        spark = self.run.spark
        with sp.span("build"):
            q = spark.createDataFrame(
                [(int(self.vec_ids[row]), [float(x) for x in self.vecs[row]])],
                "query_id long, q_vec array<float>",
            )
            df = ivf_index_topk(spark, self.ivf_dir, q, k=TOPK)
        with sp.span("exec"):
            return [
                (int(r["neighbor_id"]), float(r["cos"]), int(r["rank"]))
                for r in df.collect()
            ]

    def ingest(self, batch_id: int):
        from pyspark.sql import functions as F

        from click_streaming_data_pipeline_spark.extensions.ivf import (
            append_ivf_index_batch,
        )

        with self.run.spans.span("append"):
            append_ivf_index_batch(
                self.emb.filter(F.col("vec_id") % N_BATCHES == batch_id),
                self.ivf_dir,
                batch_id,
            )

    # -- independent checks (numpy, outside timing) --------------------------
    def check_search(self, terms: list[str], got) -> bool:
        scored = []
        for did, toks in zip(self.doc_ids, self.doc_tokens):
            s = float(sum(toks.count(t) for t in terms))
            if s > 0:
                scored.append((-s, did))
        want = [(d, -s) for s, d in sorted(scored)[:TOPK]]
        return got == want

    def _unit(self, m):
        n = np.linalg.norm(m, axis=-1, keepdims=True)
        return m / np.where(n == 0, 1, n)

    def _corpus(self):
        import pyarrow.dataset as ds

        t = ds.dataset(
            os.path.join(self.ivf_dir, "corpus"), format="parquet", partitioning="hive"
        ).to_table(columns=["neighbor_id", "n_vec", "centroid_id", "batch"])
        return (
            np.asarray(t.column("neighbor_id").to_pylist(), np.int64),
            np.asarray(t.column("n_vec").to_pylist(), np.float64),
            np.asarray(t.column("centroid_id").to_pylist(), np.int64),
            np.asarray(t.column("batch").to_pylist(), np.int64),
        )

    def _centroids(self):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.ivf_dir, "centroids")).sort_by("centroid_id")
        return (
            np.asarray(t.column("centroid_id").to_pylist(), np.int64),
            np.asarray(t.column("cvec").to_pylist(), np.float64),
        )

    def check_knn(self, row: int, got) -> bool:
        cids, cents = self._centroids()
        nprobe = max(1, len(cids) // 4)
        q = self.vecs[row]
        ccos = self._unit(cents) @ self._unit(q)
        probed = set(cids[np.lexsort((cids, -ccos))[:nprobe]].tolist())
        ids, vecs, cent, _ = self._corpus()
        keep = np.isin(cent, list(probed)) & (ids != self.vec_ids[row])
        cos = self._unit(vecs[keep]) @ self._unit(q)
        want = np.sort(cos)[::-1][:TOPK]
        got_cos = np.asarray([c for _, c, _ in got])
        by_id = dict(zip(ids[keep].tolist(), cos.tolist()))
        return (
            len(got) == len(want)
            and [r for _, _, r in got] == list(range(1, len(got) + 1))
            and np.allclose(got_cos, want, rtol=0, atol=1e-9)
            and all(abs(by_id.get(n, 9.0) - c) <= 1e-9 for n, c, _ in got)
        )

    def check_ingest(self, batch_id: int) -> bool:
        cids, cents = self._centroids()
        ids, vecs, cent, batch = self._corpus()
        mine = batch == batch_id
        want_ids = np.sort(self.vec_ids[self.vec_ids % N_BATCHES == batch_id])
        if not np.array_equal(np.sort(ids[mine]), want_ids):
            return False
        cos = self._unit(vecs[mine]) @ self._unit(cents).T
        best = cos.max(axis=1, keepdims=True)
        # nearest centroid, ties to the smaller id (cos within 1e-12)
        first = np.argmax(cos >= best - 1e-12, axis=1)
        return bool(np.array_equal(cids[first], cent[mine]))


def search_serving(run: Run) -> dict:
    args = run.args
    sf = inputs.build(SERVING_INPUTS, args.seed, os.path.join(run.work, "inputs"))
    srv = _Serving(run, sf)
    session_s = run.start_session()
    with run.spans.span("setup.indexes") as s:
        srv.build()
    setup_s = session_s + s["dur"]

    rng = np.random.default_rng([args.seed, 7])
    state = {"ingest": 0}

    def one(kind: str) -> dict:
        run.attempted += 1
        with run.spans.span("request", kind=kind) as r:
            try:
                if kind == "search":
                    terms = [str(w) for w in rng.choice(inputs.WORDS, 2, replace=False)]
                    got = srv.search(terms)
                elif kind == "knn":
                    row = int(rng.integers(0, len(srv.vec_ids)))
                    got = srv.knn(row)
                else:
                    batch_id = state["ingest"] % N_BATCHES
                    state["ingest"] += 1
                    srv.ingest(batch_id)
                ok = True
            except Exception:  # counted, reported, never fatal
                ok = False
                run.fail(kind)
        r["ok"] = ok
        if ok:  # every request is checked, outside its timed span
            good = (
                srv.check_search(terms, got)
                if kind == "search"
                else srv.check_knn(row, got)
                if kind == "knn"
                else srv.check_ingest(batch_id)
            )
            run.record["verified"] = run.record.get("verified", 0) + 1
            if not good:
                run.fail(f"{kind}: result differs from the independent check")
        return r

    def cycle(idx: int, kind: str, reqs: list[str]) -> dict:
        ticks = cpu_ticks()
        with run.spans.span("pass", idx=idx, kind=kind) as p:
            done = [one(str(k)) for k in reqs]
        p["steal"] = steal_share(ticks, cpu_ticks())
        # a pass's wall is its time inside requests; a failed request
        # makes it infinite
        p["engine_s"] = sum(r["dur"] if r["ok"] else float("inf") for r in done)
        return p

    # warm-up: whole untimed cycles, the first one the first use of each path
    cold, *warm = [
        cycle(i, "warm" if i else "cold", list(rng.permutation(CYCLE)))
        for i in range(WARM_CYCLES)
    ]
    run.cold_s = cold["engine_s"]
    # timed: whole shuffled cycles while fewer than ``seconds`` are measured
    timed, aside = _timed(
        run,
        lambda i: cycle(WARM_CYCLES + i, "timed", list(rng.permutation(CYCLE))),
        MIN_PASSES,
    )
    run.units = timed
    run.corpus_files = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(srv.ivf_dir, "corpus"))
        for f in fs
    )
    lat: dict[str, list[float]] = {m: [] for m in CYCLE}
    for p in timed:
        for r in run.spans.within(p, "request"):
            lat[r["kind"]].append(r["dur"] if r["ok"] else float("inf"))
    run.record.update(
        inputs=SERVING_INPUTS,
        passes_s={
            "cold": cold["engine_s"],
            "warm": [p["engine_s"] for p in warm],
            "timed": [p["engine_s"] for p in timed],
            "set_aside": [p["engine_s"] for p in aside],
        },
        steal={
            "cold": cold["steal"],
            "warm": [p["steal"] for p in warm],
            "timed": [p["steal"] for p in timed],
            "set_aside": [p["steal"] for p in aside],
        },
        request_s=lat,
        samples={m: len(v) for m, v in lat.items()},
        setup={"session_s": session_s, "indexes_s": s["dur"]},
    )
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["engine_s"] for p in timed), "s"),
    }


WORKLOADS = {
    "click_stream": click_stream,
    "llm_curation": llm_curation,
    "search_serving": search_serving,
}
