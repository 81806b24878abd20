"""Outside-in tracing: spans around the calls into each engine layer, plus the
Spark jobs and stages those calls start, read from Spark's status store.

Nothing inside blacklab_spark is edited. Tracing wraps public functions of
the engine's modules for the length of a traced run, tags every phase of a
request with its own Spark job group, and after the phase reads the group's
jobs from `statusStore().job(id)` and their stages from
`lastStageAttempt(sid)`. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# (module, owner attribute or None for module functions, function names, layer)
WRAPPED = (
    ("blacklab_spark.session", None, ("get_spark",), "session"),
    ("blacklab_spark.build", None, ("build_index",), "build"),
    ("blacklab_spark.corpus", "Corpus", (
        "__init__", "preload", "lookup_terms", "expand_pattern", "search",
        "search_or", "search_and", "search_phrase", "find_cql", "count_hits",
        "hits_page", "spans_term",
    ), "corpus"),
    ("blacklab_spark.plans.cql", None, ("find_cql",), "plans.cql"),
    ("blacklab_spark.operators.spans", None, (
        "sequence", "span_or", "position_filter", "repetition",
        "seq_positions_extend", "seq_positions_pair", "spans_from_positions",
    ), "operators.spans"),
    ("blacklab_spark.operators.grouping", None, (
        "collocations_hits", "kwic_spans", "capped_count", "process_window",
        "hits_window", "_hits_for_docs_join",
    ), "operators.grouping"),
    ("blacklab_spark.incremental", None, ("add_to_index", "compact_index"),
     "incremental"),
)

SLACK_S = 0.005  # Spark stamps jobs in whole milliseconds


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.cost_s = 0.0  # time spent reading the status store
        self._stack: list[int] = []
        self._request: int | None = None
        self.sc = None

    # ----------------------------------------------------------- wrapping --
    def install(self) -> None:
        import importlib

        for modname, owner_name, names, layer in WRAPPED:
            mod = importlib.import_module(modname)
            owner = getattr(mod, owner_name) if owner_name else mod
            for name in names:
                fn = getattr(owner, name)
                setattr(owner, name, self._wrap(fn, layer, name))

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(f"{layer}.{name}", layer):
                return fn(*args, **kwargs)

        return traced

    # -------------------------------------------------------------- spans --
    @contextmanager
    def span(self, name: str, layer: str):
        sp = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "request": self._request, "start": time.time(), "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def request(self, name: str):
        """One query, build, append or compact; its phases are children."""
        if not self.enabled:
            yield None
            return
        self._request = len(self.spans)
        try:
            with self.span(name, "request") as sp:
                yield sp
        finally:
            self._request = None

    @contextmanager
    def phase(self, name: str, markers: str | None = None):
        """A phase of the current request, with its own Spark job group.
        `markers`: a build's _checkpoints dir; its stage windows become
        child spans the build's jobs are attributed to."""
        if not self.enabled:
            yield None
            return
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name, "phase") as sp:
                yield sp
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        t = time.perf_counter()
        sp["group"] = group
        if markers:
            self._marker_spans(sp, markers)
        self._attach_jobs(sp, group)
        self.cost_s += time.perf_counter() - t

    def _marker_spans(self, phase: dict, markers: str) -> None:
        """Build stages from the `_checkpoints/<stage>.json` markers written
        inside this phase, nested under the deepest span that holds them."""
        for nm in sorted(os.listdir(markers)):
            with open(os.path.join(markers, nm)) as f:
                m = json.load(f)
            start, end = m["started_ts"], m["finished_ts"]
            if start < phase["start"] or end > phase["end"] + SLACK_S:
                continue
            self.spans.append({
                "id": len(self.spans), "name": f"build.{m['stage']}",
                "layer": "build.stage", "stage": m["stage"],
                "parent": self._deepest(phase, start, end),
                "request": phase["request"], "start": start, "end": end,
            })

    def _deepest(self, phase: dict, start: float, end: float) -> int:
        best = phase
        for sp in self.spans[phase["id"]:]:
            if sp["end"] is None or sp["request"] != phase["request"]:
                continue
            if sp["start"] - SLACK_S <= start and end <= sp["end"] + SLACK_S \
                    and sp["start"] >= best["start"]:
                best = sp
        return best["id"]

    def _attach_jobs(self, phase: dict, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        seen: set[int] = set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            job = {
                "id": len(self.spans), "name": f"spark.job.{jid}",
                "layer": "spark.job", "phase": phase["name"],
                "parent": self._deepest(phase, start, end),
                "request": phase["request"], "start": start, "end": end,
                "stages": 0, "tasks": 0, "task_run_s": 0.0, "jvm_cpu_s": 0.0,
                "shuffle_bytes": 0,
            }
            self.spans.append(job)
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += sd.numTasks()
                job["task_run_s"] += sd.executorRunTime() / 1e3
                job["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                job["shuffle_bytes"] += sd.shuffleWriteBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    self.spans.append({
                        "id": len(self.spans), "name": f"spark.stage.{sid}",
                        "layer": "spark.stage", "parent": job["id"],
                        "request": phase["request"],
                        "start": sub.get().getTime() / 1000.0,
                        "end": done.get().getTime() / 1000.0,
                    })

    # ---------------------------------------------------------- summaries --
    def jobs(self, request: dict, phase: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == "spark.job" and s["request"] == request["id"]
            and (phase is None or s["phase"] == phase)
        ]

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover, summed
        per layer."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted((c["start"], c["end"]) for c in children.get(s["id"], ())):
                b = min(b, s["end"])
                covered += max(0.0, b - max(a, reach))
                reach = max(reach, b)
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
