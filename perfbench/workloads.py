"""The workloads and the metrics they report.

serve   one client reads a preloaded 30k-turn index: BM25 top-k queries and
        CQL span counts, capped counts, KWIC pages and collocations.
ingest  a build, an append, BM25 reads on the freshly reopened two-segment
        index, then a compaction.

Each run builds its own inputs from the seed with
`blacklab_spark.datagen.make_transcripts`; the engine sees only those rows.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
from contextlib import nullcontext

from perfbench import gate, stats
from perfbench.queries import ALL_KINDS, SEARCH_KINDS, make_pools, rounds
from perfbench.queries import collect as collect_query
from perfbench.queries import plan as plan_query

# Build parameters of the frozen bench.py, so the salted hot-term path runs.
BUILD_PARAMS = {"salt_df_threshold": 10_000, "docs_per_salt": 1 << 16}
SERVE_TURNS = 30_000
INGEST_TURNS = 30_000
APPEND_TURNS = 2_000
APPEND_CYCLES = 1
POOL = 32  # queries per kind; runs rarely need more than a handful
SAMPLE_DOCS = 4_000  # documents the phrase kinds sample adjacent pairs from
BUILD_STAGES = ("docs", "stats", "term_dict", "postings", "manifest")
HEAP_SETTLE_ROUNDS = 30
HEAP_STEADY_READINGS = 4  # about a second without a drop of more than 1%

WORKLOADS = {
    "serve": ALL_KINDS,
    "ingest": SEARCH_KINDS,
}


def derive_seed(seed: int, stream: int) -> int:
    """Independent datagen seed per input stream of one run."""
    return (seed * 7919 + stream * 104_729) % (1 << 31)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Run:
    """One benchmark run: its Spark session, inputs, timings and checks."""

    def __init__(self, spark, cores: int, workdir: str, seed: int,
                 seconds: float, tracer, t0: float, log):
        self.spark = spark
        self.cores = cores
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer  # None when tracing is off
        self.t0 = t0
        self.log = log
        self.attempted = 0
        self.raised = 0
        self.mismatched = 0
        self.setup_s = 0.0
        self.samples: list[dict] = []  # one per timed query
        # (traced, queries completed, wall) per measured round
        self.round_walls: list[tuple[bool, int, float]] = []
        self.writes: list[dict] = []  # one per timed index write
        self.layers: dict[str, float] = {}  # build stage walls and sizes
        self.opens: list[tuple[float, float]] = []  # (open_s, preload_s)
        self.record: dict = {}

    # ------------------------------------------------------------ helpers --
    def _traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def write(self, kind: str, fn, turns: int, markers: str | None = None):
        """Time one index write (build, append or compact)."""
        tr = self.tracer
        with (tr.request(kind) if tr else nullcontext()) as req:
            with (tr.phase(kind, markers) if tr else nullcontext()):
                t = time.perf_counter()
                fn()
                wall = time.perf_counter() - t
        self.attempted += 1
        self.writes.append({"kind": kind, "turns": turns, "wall_s": wall, "req": req})

    def query(self, corpus, q, epoch: int, timed: bool = True):
        """Plan and collect one query; latency runs from the plan call to the
        collected result. Results are kept for the oracle gate."""
        tr = self.tracer
        try:
            with (tr.request(f"query.{q.kind}") if tr else nullcontext()) as req:
                with (tr.phase("plan") if tr else nullcontext()):
                    t = time.perf_counter()
                    planned = plan_query(corpus, q)
                    plan_s = time.perf_counter() - t
                with (tr.phase("action") if tr else nullcontext()):
                    t = time.perf_counter()
                    got = collect_query(q, planned)
                    exec_s = time.perf_counter() - t
        except Exception as e:  # a failing query counts, the run goes on
            if timed:
                self.attempted += 1
                self.raised += 1
            self.log(f"QUERY FAILED {q.key}: {type(e).__name__}: {e}")
            return
        if timed:
            self.attempted += 1
            self.samples.append({
                "q": q, "got": got, "epoch": epoch, "plan_s": plan_s,
                "exec_s": exec_s, "latency_s": plan_s + exec_s,
                "traced": self._traced(), "req": req,
                "round": len(self.round_walls),
            })

    def loop(self, corpus, round_iter, seconds: float, epoch: int) -> float:
        """Closed loop, one client, whole rounds until `seconds` have passed.
        A traced run alternates untraced and traced rounds, so both see the
        same conditions and their difference is the tracing overhead."""
        t = time.perf_counter()
        n = 0
        min_rounds = 1 if self.tracer is None else 2
        while n < min_rounds or time.perf_counter() - t < seconds:
            if self.tracer is not None:
                self.tracer.enabled = n % 2 == 1
            r, done = time.perf_counter(), len(self.samples)
            for q in next(round_iter):
                self.query(corpus, q, epoch)
            self.round_walls.append(
                (self._traced(), len(self.samples) - done, time.perf_counter() - r))
            n += 1
        if self.tracer is not None:
            self.tracer.enabled = True
        return time.perf_counter() - t

    def finish(self, loop_s: float) -> None:
        """Record the measured phase's loop figures and the live heap."""
        lat = [s["latency_s"] for s in self.samples]
        self.record.update(
            loop_s=loop_s,
            round_walls_s=[w for _, _, w in self.round_walls],
            query_samples=len(lat),
            query_tail=stats.highest_tail(lat),  # None: too few samples
            heap_live_mb=self.heap_live_mb(),
        )

    def heap_live_mb(self) -> float:
        """Driver-JVM heap in use after full collections. Spark frees the
        blocks of unreferenced broadcasts, shuffles and caches from a cleaner
        thread only after a collection has found them, so one System.gc()
        right after a build still counts them: collect until the figure
        stops falling."""
        gc.collect()  # py4j releases JVM objects when their proxies are freed
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        last, steady = float("inf"), 0
        for _ in range(HEAP_SETTLE_ROUNDS):
            jvm.java.lang.System.gc()
            live = (rt.totalMemory() - rt.freeMemory()) / 2**20
            steady = steady + 1 if live > last * 0.99 else 0
            last = min(live, last)
            if steady == HEAP_STEADY_READINGS:
                break
            time.sleep(0.25)
        return last

    def build(self, pdf, path: str) -> None:
        from blacklab_spark.build import build_index

        frame = self.spark.createDataFrame(pdf)
        self.write(
            "build", lambda: build_index(self.spark, frame, path, **BUILD_PARAMS),
            len(pdf), markers=os.path.join(path, "_checkpoints"),
        )

    def open_corpus(self, path: str):
        from blacklab_spark.corpus import Corpus

        t = time.perf_counter()
        corpus = Corpus(self.spark, path)
        t1 = time.perf_counter()
        corpus.preload()
        self.opens.append((t1 - t, time.perf_counter() - t1))
        return corpus

    def index_sizes(self, path: str, text_bytes: int) -> None:
        total = dir_bytes(path)
        with open(os.path.join(path, "_meta.json")) as f:
            self.record["distinct_terms"] = json.load(f)["n_terms"]
        self.record["index_bytes"] = total
        self.record["text_bytes"] = text_bytes
        for sub in ("docs", "postings", "term_dict"):
            self.layers[f"build.{sub}_bytes"] = dir_bytes(os.path.join(path, sub))
        self.layers["index_bytes_per_text_byte"] = total / text_bytes
        for stage in BUILD_STAGES:
            with open(os.path.join(path, "_checkpoints", f"{stage}.json")) as f:
                self.layers[f"build.{stage}_s"] = json.load(f)["wall_sec"]


def _text_bytes(pdf) -> int:
    return int(pdf["text"].str.encode("utf-8").str.len().sum())


def _sample_tokens(texts: list[str]) -> list[list[str]]:
    from blacklab_spark.tokenizer import tokenize

    return [tokenize(t) for t in texts[:SAMPLE_DOCS]]


# ------------------------------------------------------------- workloads --
def serve(run: Run, kinds: tuple[str, ...]) -> list[gate.Oracle]:
    from blacklab_spark.datagen import make_transcripts

    pdf = make_transcripts(SERVE_TURNS, seed=derive_seed(run.seed, 0))
    texts = gate.texts_in_doc_order(pdf)
    pools = make_pools(run.seed, kinds, _sample_tokens(texts), POOL)
    path = os.path.join(run.workdir, "index")
    run.build(pdf, path)
    run.index_sizes(path, _text_bytes(pdf))
    corpus = run.open_corpus(path)
    it = rounds(pools)
    t = time.perf_counter()
    for q in next(it):  # warm-up round: first-query jobs, JIT, page cache
        run.query(corpus, q, 0, timed=False)
    run.record["warmup_s"] = time.perf_counter() - t
    run.setup_s = time.time() - run.t0
    run.finish(run.loop(corpus, it, run.seconds, 0))
    run.record.update(turns=SERVE_TURNS, kinds=list(kinds))
    return [gate.Oracle(texts)]


def ingest(run: Run, kinds: tuple[str, ...]) -> list[gate.Oracle]:
    from blacklab_spark.datagen import make_transcripts
    from blacklab_spark.incremental import add_to_index, compact_index

    base = make_transcripts(INGEST_TURNS, seed=derive_seed(run.seed, 1))
    batches = []
    for c in range(APPEND_CYCLES):
        b = make_transcripts(APPEND_TURNS, seed=derive_seed(run.seed, 2 + c))
        b["conv_id"] = f"app{c}-" + b["conv_id"]
        batches.append(b)
    texts = gate.texts_in_doc_order(base)
    pools = make_pools(run.seed, kinds, _sample_tokens(texts), POOL)
    path = os.path.join(run.workdir, "index")
    run.setup_s = time.time() - run.t0

    run.build(base, path)
    run.index_sizes(path, _text_bytes(base))
    it = rounds(pools)
    loop_s = 0.0
    epochs = []
    for c, b in enumerate(batches):
        frame = run.spark.createDataFrame(b)
        run.write("append", lambda: add_to_index(run.spark, frame, path), len(b))
        corpus = run.open_corpus(path)
        for q in next(it):  # warm-up round, as in serve; not timed
            run.query(corpus, q, c, timed=False)
        # reads get half of --seconds; the timed writes take about the other
        loop_s += run.loop(corpus, it, run.seconds / 2 / APPEND_CYCLES, c)
        texts = texts + gate.texts_in_doc_order(b)
        epochs.append(texts)
    run.write("compact", lambda: compact_index(run.spark, path), 0)
    run.finish(loop_s)
    run.record.update(
        turns=INGEST_TURNS, append_turns=APPEND_TURNS,
        append_cycles=APPEND_CYCLES, kinds=list(kinds),
    )
    return [gate.Oracle(t) for t in epochs]


# --------------------------------------------------------------- metrics --
def end_to_end(run: Run, traced_only: bool | None = None) -> dict[str, float]:
    """The end-to-end metrics; traced_only selects traced (True), untraced
    (False) or all (None) query samples."""
    qs = [s for s in run.samples if traced_only is None or s["traced"] == traced_only]
    lat = [s["latency_s"] for s in qs]
    build = next(w for w in run.writes if w["kind"] == "build")
    write_turns = sum(w["turns"] for w in run.writes)
    write_s = sum(w["wall_s"] for w in run.writes)
    rates = [n / w for t, n, w in run.round_walls
             if traced_only is None or t == traced_only]
    return {
        "setup_s": run.setup_s,
        "queries_per_s": stats.median(rates),
        "query_p50_s": stats.median(lat),
        "build_turns_per_s": build["turns"] / build["wall_s"],
        "write_turns_per_s": write_turns / write_s,
        "index_bytes_per_text_byte": run.layers["index_bytes_per_text_byte"],
        "heap_live_mb": run.record["heap_live_mb"],
    }


def per_layer(run: Run, session_s: float) -> tuple[dict[str, float], dict]:
    """Per-layer metrics of a traced run, and a report with the per-kind and
    per-request detail behind them."""
    tr = run.tracer
    m: dict[str, float] = {"session.start_s": session_s}
    for stage in BUILD_STAGES:
        m[f"build.{stage}_s"] = run.layers[f"build.{stage}_s"]
    for sub in ("docs", "postings", "term_dict"):
        m[f"build.{sub}_bytes"] = run.layers[f"build.{sub}_bytes"]

    build = next(w for w in run.writes if w["kind"] == "build")
    bjobs = tr.jobs(build["req"])
    m["build.jobs"] = len(bjobs)
    for k in ("tasks", "task_run_s", "jvm_cpu_s", "shuffle_bytes"):
        m[f"build.{k}"] = sum(j[k] for j in bjobs)
    by_id = {s["id"]: s for s in tr.spans}
    for stage in BUILD_STAGES:
        sj = [j for j in bjobs if _stage_of(j, by_id) == stage]
        m[f"build.{stage}.jobs"] = len(sj)
        m[f"build.{stage}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in sj)

    m["corpus.open_s"] = statistics.mean(o for o, _ in run.opens)
    m["corpus.preload_s"] = statistics.mean(p for _, p in run.opens)

    # per-query figures come from the first traced round: the same queries
    # in every run of a seed, so the counts repeat exactly
    traced = [s for s in run.samples if s["traced"]]
    first = min((s["round"] for s in traced), default=None)
    traced = [s for s in traced if s["round"] == first]
    n = max(len(traced), 1)
    per_q = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
             "jvm_cpu_s": 0.0, "shuffle_bytes": 0, "eager": 0}
    for s in traced:
        jobs = tr.jobs(s["req"])
        for k in ("stages", "tasks", "task_run_s", "jvm_cpu_s", "shuffle_bytes"):
            per_q[k] += sum(j[k] for j in jobs)
        per_q["jobs"] += len(jobs)
        per_q["eager"] += len(tr.jobs(s["req"], "plan"))
    exec_s = sum(s["exec_s"] for s in traced)
    m["corpus.plan_s"] = sum(s["plan_s"] for s in traced) / n
    m["corpus.eager_jobs"] = per_q["eager"] / n
    for k in ("jobs", "stages", "tasks", "task_run_s", "jvm_cpu_s",
              "shuffle_bytes"):
        m[f"query.{k}"] = per_q[k] / n
    m["query.exec_s"] = exec_s / n
    m["query.task_offcpu_s"] = (per_q["task_run_s"] - per_q["jvm_cpu_s"]) / n
    m["query.slot_busy_ratio"] = per_q["task_run_s"] / max(exec_s * run.cores, 1e-9)

    appends = [w for w in run.writes if w["kind"] == "append"]
    for kind, ws in (("append", appends),
                     ("compact", [w for w in run.writes if w["kind"] == "compact"])):
        jobs = [j for w in ws for j in tr.jobs(w["req"])]
        per = max(len(ws), 1)
        m[f"{kind}.jobs"] = len(jobs) / per
        m[f"{kind}.stages"] = sum(j["stages"] for j in jobs) / per
        m[f"{kind}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs) / per

    traced_e2e = end_to_end(run, traced_only=True)
    plain_e2e = end_to_end(run, traced_only=False)
    for k in ("queries_per_s", "query_p50_s"):
        m[f"trace.overhead.{k}"] = traced_e2e[k] - plain_e2e[k]
    m["trace.cost_s"] = tr.cost_s

    report = {
        "self_s_by_layer": tr.self_time_by_layer(),
        "kinds": _kind_report(run, traced),
        "writes": [_write_report(w, tr) for w in run.writes],
        "corpus_open_preload_s": run.opens,
        "e2e_traced": traced_e2e,
        "e2e_untraced": plain_e2e,
    }
    return m, report


def _stage_of(job: dict, by_id: dict) -> str | None:
    p = job["parent"]
    while p is not None:
        sp = by_id[p]
        if sp["layer"] == "build.stage":
            return sp["stage"]
        p = sp["parent"]
    return None


def _kind_report(run: Run, traced: list[dict]) -> dict:
    out = {}
    for kind in dict.fromkeys(s["q"].kind for s in run.samples):
        lat = [s["latency_s"] for s in run.samples if s["q"].kind == kind]
        tk = [s for s in traced if s["q"].kind == kind]
        jobs = [run.tracer.jobs(s["req"]) for s in tk]
        out[kind] = {
            "n": len(lat),
            "p50_s": stats.median(lat),
            "jobs_per_query": sorted({len(j) for j in jobs}),
            "stages_per_query": sorted({sum(x["stages"] for x in j) for j in jobs}),
            "shuffle_bytes_per_query": sorted(
                {sum(x["shuffle_bytes"] for x in j) for j in jobs}),
            "eager_jobs_per_query": sorted(
                {len(run.tracer.jobs(s["req"], "plan")) for s in tk}),
        }
    return out


def _write_report(w: dict, tr) -> dict:
    jobs = tr.jobs(w["req"])
    return {
        "kind": w["kind"], "turns": w["turns"], "wall_s": w["wall_s"],
        "jobs": len(jobs), "stages": sum(j["stages"] for j in jobs),
        "task_run_s": sum(j["task_run_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
    }


def check(run: Run, oracles: list[gate.Oracle]) -> None:
    """Gate every timed result; runs after the measured phase."""
    t = time.perf_counter()
    by_epoch: dict[int, list] = {}
    for s in run.samples:
        by_epoch.setdefault(s["epoch"], []).append((s["q"], s["got"]))
    for epoch, results in sorted(by_epoch.items()):
        run.mismatched += gate.check(oracles[epoch], results, run.log)
    run.record["gate_s"] = time.perf_counter() - t
