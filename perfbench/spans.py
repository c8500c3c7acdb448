"""Spans recorded around the program's public functions, in traced runs only.

A :class:`Tracer` wraps named module functions and class methods; each
call records a span (name, start, end, parent span, statement id). Only
one statement runs at a time (one closed-loop client), so a single span
stack serves every thread: the pg-wire handler thread's spans nest under
the client's round-trip span. Spans stay in memory until the run ends.

Spark figures come from the SparkContext status store when the run ends:
each job is attributed to the statement whose interval holds its
submission time, and counts as *eager* when a lowering or frame-building
span (``EAGER``) was open at that moment.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

# span name -> per-layer self-time metric
SELF_TIME = {
    "interfaces.server": "interfaces.server.self_s",
    "engine": "engine.self_s",
    "plans.frontend.lower": "plans.frontend.lower_s",
    "plans.extended.lower": "plans.extended.lower_s",
    "operators": "operators.self_s",
    "plans.ddl": "plans.ddl.self_s",
    "sources.prune": "sources.prune.self_s",
    "sources.manifest.commit": "sources.manifest.commit_s",
    "llm.dedup": "llm.dedup.self_s",
    "llm.spandedup": "llm.spandedup.self_s",
    "llm.text": "llm.text.self_s",
    "streaming.ops.commit": "streaming.ops.commit_s",
}
# every per-layer metric's unit (the SELF_TIME metrics are all seconds)
UNITS = {
    **{m: "s" for m in SELF_TIME.values()},
    "exec.action_s": "s", "exec.eager_s": "s", "exec.executor_run_s": "s", "exec.gc_s": "s",
    "exec.eager_jobs": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "sources.manifest.files_written_per_write": "count",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "exec.input_bytes": "B", "sources.manifest.bytes_written_per_row_changed": "B",
    "sources.prune.cache_hit_ratio": "ratio", "sources.prune.files_scanned_ratio": "ratio",
}
EAGER = ("plans.frontend.lower", "plans.extended.lower", "operators",
         "llm.dedup", "llm.spandedup", "llm.text")


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, t0, t1, parent, stmt]
        self.stack: list[int] = []
        self.lock = threading.Lock()
        self.stmt: int | None = None
        # (id, pass, t0, t1, label), one per measured statement
        self.statements: list[tuple[int, int, float, float, str]] = []
        self.patches: list[tuple] = []
        # per-probe pruning figures, filled by the engine.sql wrapper
        self.probes: list[dict] = []
        self._probe: dict | None = None

    # ---- spans

    def _open(self, name: str) -> int:
        with self.lock:
            parent = self.stack[-1] if self.stack else None
            self.spans.append([name, time.time(), None, parent, self.stmt])
            i = len(self.spans) - 1
            self.stack.append(i)
            return i

    def _close(self, i: int) -> None:
        with self.lock:
            self.spans[i][2] = time.time()
            if i in self.stack:
                self.stack.remove(i)

    @contextmanager
    def span(self, name: str):
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    @contextmanager
    def statement(self, sid: int, pass_no: int, label: str):
        self.stmt = sid
        t0 = time.time()
        try:
            with self.span("stmt"):
                yield
        finally:
            self.statements.append((sid, pass_no, t0, time.time(), label))
            self.stmt = None

    # ---- wrapping

    def wrap(self, owner, attr: str, name: str, around=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if around is not None:
                around(out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self.patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self.patches):
            setattr(owner, attr, orig)
        self.patches.clear()

    def install(self) -> None:
        """Wrap every public function named in the README's layer table."""
        import sclera_spark.llm.dedup as dedup
        import sclera_spark.llm.spandedup as spandedup
        import sclera_spark.llm.text as text
        import sclera_spark.operators as ops
        import sclera_spark.operators.match as match
        import sclera_spark.plans.extended as extended
        import sclera_spark.plans.frontend as frontend
        import sclera_spark.sources.prune as prune
        import sclera_spark.streaming.ops as sops
        from sclera_spark.engine import ScleraEngine
        from sclera_spark.interfaces.server import WireClient
        from sclera_spark.plans.ddl import DdlRouter
        from sclera_spark.sources.manifest import ManifestTable

        self.wrap(WireClient, "execute", "interfaces.server")
        self._wrap_engine_sql(ScleraEngine)
        self.wrap(ScleraEngine, "execute", "engine")
        self.wrap(frontend, "lower_sql", "plans.frontend.lower",
                  around=lambda df: self._note("lowered", df))
        self.wrap(extended, "lower_extended", "plans.extended.lower")
        for fn in ("split_into", "align", "align_zip", "expmovavg", "pivot",
                   "unpivot", "arg_opt", "distinct_on"):
            self.wrap(ops, fn, "operators")
        self.wrap(match, "match_rows", "operators")
        self.wrap(match, "match_aggregate", "operators")
        self.wrap(DdlRouter, "execute", "plans.ddl")
        self.wrap(prune, "plan_cache_key", "sources.prune",
                  around=lambda key: self._note("keyed", key is not None))
        for fn in ("metadata_agg", "prune_query"):
            self.wrap(prune, fn, "sources.prune",
                      around=lambda _: self._note("missed", True))
        for fn in ("append", "commit_staged", "_stage"):
            self.wrap(ManifestTable, fn, "sources.manifest.commit")
        for fn in ("minhash_dup_pairs", "minhash_anti_join",
                   "minhash_anti_join_sketched", "minhash_dedup", "minhash_sketch"):
            self.wrap(dedup, fn, "llm.dedup")
        self.wrap(spandedup, "duplicated_spans", "llm.spandedup")
        self.wrap(text, "quality_scores", "llm.text")
        self._wrap_committer_factory(sops)

    def _note(self, key, value) -> None:
        if self._probe is not None:
            self._probe[key] = value

    def _wrap_engine_sql(self, cls) -> None:
        orig = cls.sql
        tracer = self

        def sql(engine, query, *a, **k):
            outer = tracer._probe
            tracer._probe = {"query": query}
            try:
                with tracer.span("engine"):
                    df = orig(engine, query, *a, **k)
                probe = tracer._probe
                probe["final"] = df
                if "keyed" in probe:  # a manifest-table query
                    tracer.probes.append(probe)
                return df
            finally:
                tracer._probe = outer

        sql.__wrapped__ = orig
        cls.sql = sql
        self.patches.append((cls, "sql", orig))

    def _wrap_committer_factory(self, sops) -> None:
        """The committer is a closure the factory returns: time each call
        of the closure (one call per micro-batch)."""
        factory = sops.crawl_gate_committer
        tracer = self

        def crawl_gate_committer(*a, **k):
            commit = factory(*a, **k)

            def traced(bdf, batch_id):
                with tracer.span("streaming.ops.commit"):
                    return commit(bdf, batch_id)

            return traced

        sops.crawl_gate_committer = crawl_gate_committer
        self.patches.append((sops, "crawl_gate_committer", factory))

    # ---- reduction

    def self_times(self, jobs: list[dict]) -> dict[str, float]:
        """Per-layer self time. Each Spark job counts as a child span of the
        innermost span open at its submission, so a layer's self time
        excludes the Spark work it waited on (that is ``exec.*``)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] is not None:
                children.setdefault(s[3], []).append((s[1], s[2] or s[1]))
        for j in jobs:
            inner = max(
                (i for i, s in enumerate(self.spans)
                 if s[4] == j["stmt"] and s[1] <= j["t0"] <= (s[2] or j["t0"])),
                key=lambda i: self.spans[i][1], default=None)
            if inner is not None:
                children.setdefault(inner, []).append((j["t0"], j["t1"]))
        out: dict[str, float] = {}
        for i, (name, t0, t1, _, stmt) in enumerate(self.spans):
            if name not in SELF_TIME or t1 is None or stmt is None:
                continue
            covered = _union_length(
                (max(t0, a), min(t1, b)) for a, b in children.get(i, ()))
            metric = SELF_TIME[name]
            out[metric] = out.get(metric, 0.0) + max(0.0, (t1 - t0) - covered)
        return out


def _union_length(intervals) -> float:
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def spark_figures(spark, tracer: Tracer) -> list[dict]:
    """One record per Spark job submitted during a measured statement."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stmts = sorted(tracer.statements, key=lambda s: s[2])
    starts = [s[2] for s in stmts]
    import bisect

    eager_spans = sorted(
        (s[1], s[2]) for s in tracer.spans if s[0] in EAGER and s[2] is not None
    )
    out = []
    seen_stages: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.submissionTime().isEmpty() or j.completionTime().isEmpty():
            continue
        t_sub = j.submissionTime().get().getTime() / 1000.0
        t_end = j.completionTime().get().getTime() / 1000.0
        k = bisect.bisect_right(starts, t_sub) - 1
        # the JVM clock reads whole milliseconds: allow 1 ms at both ends
        if k < 0 or t_sub > stmts[k][3] + 0.001:
            continue
        rec = {
            "stmt": stmts[k][0], "pass": stmts[k][1], "t0": t_sub, "t1": t_end,
            "eager": any(a - 0.001 <= t_sub <= b + 0.001 for a, b in eager_spans),
            "tasks": j.numCompletedTasks(), "stages": 0, "run_s": 0.0, "gc_s": 0.0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input": 0,
        }
        ids = j.stageIds()
        for n in range(ids.size()):
            sid = ids.apply(n)
            if sid in seen_stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never ran: skipped stages have no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            seen_stages.add(sid)
            rec["stages"] += 1
            rec["run_s"] += st.executorRunTime() / 1000.0
            rec["gc_s"] += st.jvmGcTime() / 1000.0
            rec["shuffle_write"] += st.shuffleWriteBytes()
            rec["shuffle_read"] += st.shuffleReadBytes()
            rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["input"] += st.inputBytes()
        out.append(rec)
    return out


def per_layer(tracer: Tracer, jobs: list[dict], passes: int, extra: dict) -> dict:
    """Every per-layer metric: times per pass, counts per statement."""
    passes = max(passes, 1)
    n_stmt = max(len(tracer.statements), 1)
    m = {name: 0.0 for name in SELF_TIME.values()}
    for k, v in tracer.self_times(jobs).items():
        m[k] = v / passes

    def union(recs):
        return _union_length([(r["t0"], r["t1"]) for r in recs]) / passes

    action = [r for r in jobs if not r["eager"]]
    eager = [r for r in jobs if r["eager"]]
    m["exec.action_s"] = union(action)
    m["exec.eager_s"] = union(eager)
    m["exec.eager_jobs"] = len(eager) / passes
    m["exec.jobs"] = len(jobs) / n_stmt
    m["exec.stages"] = sum(r["stages"] for r in jobs) / n_stmt
    m["exec.tasks"] = sum(r["tasks"] for r in jobs) / n_stmt
    m["exec.executor_run_s"] = sum(r["run_s"] for r in jobs) / passes
    m["exec.gc_s"] = sum(r["gc_s"] for r in jobs) / passes
    m["exec.shuffle_write_bytes"] = sum(r["shuffle_write"] for r in jobs) / passes
    m["exec.shuffle_read_bytes"] = sum(r["shuffle_read"] for r in jobs) / passes
    m["exec.spill_bytes"] = sum(r["spill"] for r in jobs) / passes
    m["exec.input_bytes"] = sum(r["input"] for r in jobs) / passes

    lookups = [p for p in tracer.probes if p.get("keyed")]
    hits = [p for p in lookups if not p.get("missed")]
    m["sources.prune.cache_hit_ratio"] = len(hits) / len(lookups) if lookups else 0.0
    ratios = []
    for p in tracer.probes:
        total = len(p["lowered"].inputFiles()) if "lowered" in p else 0
        if total:
            ratios.append(len(p["final"].inputFiles()) / total)
    m["sources.prune.files_scanned_ratio"] = sum(ratios) / len(ratios) if ratios else 0.0
    m["sources.manifest.files_written_per_write"] = extra.get("files_written_per_write", 0.0)
    m["sources.manifest.bytes_written_per_row_changed"] = extra.get(
        "bytes_written_per_row_changed", 0.0)
    return m
