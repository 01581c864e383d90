"""Per-layer tracing from outside the engine.

``Tracer.install`` wraps the public functions each layer exposes (the
table ``layer_calls()`` returns) so every call opens a span; nothing inside
``kaer_spark`` changes. Each span sets its own Spark job group, so every
job a call fires (also during DataFrame construction) is attributed to the
innermost open span. Spans stay in memory; ``Tracer.layer_metrics`` reads
the status store, the SQL execution store, the ``QueryExecution`` trackers
the benchmark noted and the codegen counters once, after the measured
loop, and reduces everything to the per-layer metrics.
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def layer_calls():
    """(owner, attribute, span name) for every wrapped public call. Owners
    are the namespaces the callers resolve the name in at call time."""
    from kaer_spark import context, pipelines
    from kaer_spark.operators import dedup, index_store, knn

    coll = context.Collection
    return [
        (coll, "df", "context.df"),
        (coll, "query", "context.query"),
        (coll, "query_batch", "context.query_batch"),
        (coll, "insert_df", "context.insert_df"),
        (coll, "count", "context.count"),
        (context, "compile_filter", "filters.compile_filter"),
        (context, "embed_column", "embeddings.embed_column"),
        (context, "embed_texts_local", "embeddings.embed_texts_local"),
        (index_store, "build_ivf_index", "index_store.build_ivf_index"),
        (index_store, "refresh_ivf_index", "index_store.refresh_ivf_index"),
        (index_store, "ivf_index_topk", "index_store.ivf_index_topk"),
        (index_store, "ivf_index_knn_join", "index_store.ivf_index_knn_join"),
        (knn, "knn_join", "knn.knn_join"),
        (dedup, "build_minhash_index", "dedup.build_minhash_index"),
        (dedup, "refresh_minhash_index", "dedup.refresh_minhash_index"),
        (dedup, "minhash_near_dups", "dedup.minhash_near_dups"),
        (dedup, "dedup_clusters", "dedup.dedup_clusters"),
        (dedup, "dedup_representatives", "dedup.dedup_representatives"),
        (dedup, "remove_duplicate_passages", "dedup.remove_duplicate_passages"),
        (pipelines, "prepare_training_corpus", "pipelines.prepare_training_corpus"),
    ]


#: layers whose self time is reported; "op" is the benchmark's own code
#: between layer calls (its actions and the glue around them)
SELF_LAYERS = ("context", "filters", "embeddings", "index_store", "knn", "dedup", "pipelines", "op")

#: per-call metrics: (metric, span name, statistic)
CALL_METRICS = [
    ("context.df.s", "context.df", "s"),
    ("context.df.jobs", "context.df", "jobs"),
    ("context.query.build_s", "context.query", "s"),
    ("context.query.build_jobs", "context.query", "jobs"),
    ("context.insert_df.s", "context.insert_df", "s"),
    ("context.insert_df.write_s", "context.insert_df", "write_s"),
    ("filters.compile_filter.s", "filters.compile_filter", "s"),
    ("index_store.ivf_index_topk.build_s", "index_store.ivf_index_topk", "s"),
    ("index_store.ivf_index_topk.build_jobs", "index_store.ivf_index_topk", "jobs"),
    ("index_store.ivf_index_knn_join.s", "index_store.ivf_index_knn_join", "s"),
    ("index_store.refresh_ivf_index.s", "index_store.refresh_ivf_index", "s"),
    ("index_store.refresh_ivf_index.jobs", "index_store.refresh_ivf_index", "jobs"),
    ("index_store.build_ivf_index.s", "index_store.build_ivf_index", "s"),
    ("knn.knn_join.s", "knn.knn_join", "s"),
    ("dedup.refresh_minhash_index.s", "dedup.refresh_minhash_index", "s"),
    ("dedup.refresh_minhash_index.jobs", "dedup.refresh_minhash_index", "jobs"),
    ("dedup.minhash_near_dups.build_s", "dedup.minhash_near_dups", "s"),
    ("dedup.dedup_clusters.build_s", "dedup.dedup_clusters", "s"),
    ("dedup.dedup_clusters.build_jobs", "dedup.dedup_clusters", "jobs"),
    ("dedup.remove_duplicate_passages.build_s", "dedup.remove_duplicate_passages", "s"),
    ("dedup.remove_duplicate_passages.build_jobs", "dedup.remove_duplicate_passages", "jobs"),
    ("pipelines.prepare_training_corpus.build_s", "pipelines.prepare_training_corpus", "s"),
    ("pipelines.prepare_training_corpus.build_jobs", "pipelines.prepare_training_corpus", "jobs"),
]

#: per-op metrics of the Spark layers, summed over a traced op's jobs
EXEC_METRICS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.job_wall_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None  # id of the enclosing op span; None during set-up
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    codegen: tuple[int, int] = (0, 0)  # op spans: compiles, compile ns

    @property
    def dur(self) -> float:
        return self.end - self.start


def _seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def _sql_metric(text: str | None, unit_scale: bool) -> float:
    """Total of a formatted SQL metric: ``'5,000'`` or
    ``'total (min, med, max ...)\\n6.6 s (1.6 s, ...)'``."""
    if not text:
        return 0.0
    head = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([a-zA-Z]*)", head)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2), 1.0) if unit_scale else val


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self.plan_ms: list[float] = []

    # -- spans -----------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"{GROUP_PREFIX}{span.id}"
        )

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  parent.op if parent else None, time.time())
        if parent is not None:
            parent.children.append(sp.id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def op(self, kind: str):
        """Root span of one measured request; records codegen deltas."""
        if not self.active:
            yield None
            return
        c0 = self._codegen_metrics.METRIC_COMPILATION_TIME().getCount()
        t0 = self._codegen.compileTime()
        with self.span(f"op.{kind}") as sp:
            sp.op = sp.id
            yield sp
        sp.codegen = (
            self._codegen_metrics.METRIC_COMPILATION_TIME().getCount() - c0,
            self._codegen.compileTime() - t0,
        )

    def note_plan(self, df) -> None:
        """Record analysis + optimization + planning time of an action the
        benchmark just ran on ``df``."""
        if not self.active:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        self.plan_ms.append(sum(kv._2().durationMs() for kv in _seq(phases)))

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        for owner, attr, name in layer_calls():
            orig = getattr(owner, attr)

            def wrapper(*args, __orig=orig, __name=name, **kwargs):
                with self.span(__name):
                    return __orig(*args, **kwargs)

            self._restore.append((owner, attr, orig))
            setattr(owner, attr, functools.wraps(orig)(wrapper))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- harvest ---------------------------------------------------------
    def _jobs(self) -> dict[int, dict]:
        store = self.sc._jsc.sc().statusStore()
        jobs: dict[int, dict] = {}
        for j in _seq(store.jobsList(None)):
            grp = j.jobGroup()
            if not grp.isDefined() or not grp.get().startswith(GROUP_PREFIX):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            jobs[j.jobId()] = {
                "span": int(grp.get()[len(GROUP_PREFIX):]),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
                "stages": list(_seq(j.stageIds())),
                "spark.jobs": 1,
            }
        seen: set[int] = set()
        for jid in sorted(jobs):
            job = jobs[jid]
            for m in EXEC_METRICS[1:]:
                job.setdefault(m, 0.0)
            job["spark.job_wall_s"] = max(0.0, job["end"] - job["start"])
            for sid in job["stages"]:
                if sid in seen:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                job["spark.stages"] += 1
                job["spark.tasks"] += st.numCompleteTasks()
                job["spark.failed_tasks"] += st.numFailedTasks()
                job["spark.executor_run_s"] += st.executorRunTime() / 1000.0
                job["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                job["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                job["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                job["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return jobs

    def _python_nodes(self, jobs: dict[int, dict]) -> list[dict]:
        """Rows and worker time of the Python plan nodes in executions that
        ran traced jobs."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in _seq(sql.executionsList()):
            job_ids = [int(x) for x in _seq(e.jobs().keys())]
            mine = [j for j in job_ids if j in jobs]
            if not mine:
                continue
            plan = e.physicalPlanDescription() or ""
            if not any(n in plan for n in PYTHON_NODES):
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                if node.name() not in PYTHON_NODES:
                    continue
                rec = {"span": jobs[min(mine)]["span"], "node": node.name(), "rows": 0.0, "s": 0.0}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    text = v.get() if v.isDefined() else None
                    if m.name() == "number of output rows":
                        rec["rows"] = _sql_metric(text, False)
                    elif m.name() == "time to run Python workers":
                        rec["s"] = _sql_metric(text, True)
                out.append(rec)
        return out

    def layer_metrics(self, overhead_s: float, storage: dict, recall: float,
                      session_s: float) -> tuple[dict[str, float], dict]:
        """Per-layer metrics (see ``spec.json``) plus the raw span dump."""
        spans = self.spans
        ops = [s for s in spans if s.name.startswith("op.") and s.end]
        n_ops = max(1, len(ops))
        jobs = self._jobs()
        pynodes = self._python_nodes(jobs)
        by_span: dict[int, list[dict]] = {}
        for j in jobs.values():
            by_span.setdefault(j["span"], []).append(j)

        def subtree(s: Span) -> list[Span]:
            out, todo = [], [s]
            while todo:
                x = todo.pop()
                out.append(x)
                todo.extend(spans[c] for c in x.children)
            return out

        def jobs_under(s: Span) -> list[dict]:
            return [j for x in subtree(s) for j in by_span.get(x.id, [])]

        def write_s(s: Span) -> float:
            catch_up = sum(x.dur for x in subtree(s)[1:] if ".refresh_" in x.name)
            return s.dur - catch_up

        stat = {
            "s": lambda s: s.dur,
            "jobs": lambda s: float(len(jobs_under(s))),
            "write_s": write_s,
        }
        m: dict[str, float] = {"session.get_spark_s": session_s}
        in_ops = [s for s in spans if s.op is not None and s.end]
        for metric, name, kind in CALL_METRICS:
            calls = [s for s in in_ops if s.name == name] or [
                s for s in spans if s.name == name and s.end
            ]
            m[metric] = statistics.fmean(stat[kind](s) for s in calls) if calls else 0.0
        m["context.df.calls"] = sum(s.name == "context.df" for s in in_ops) / n_ops

        op_jobs = [j for o in ops for j in jobs_under(o)]
        for key in EXEC_METRICS:
            m[key] = sum(j[key] for j in op_jobs) / n_ops
        op_ids = {x.id for o in ops for x in subtree(o)}
        py = [p for p in pynodes if p["span"] in op_ids]
        m["spark.python.rows"] = sum(p["rows"] for p in py) / n_ops
        m["spark.python.s"] = sum(p["s"] for p in py) / n_ops
        m["embeddings.rows"] = sum(p["rows"] for p in py if p["node"] == "MapInPandas") / n_ops
        m["spark.plan_ms"] = statistics.fmean(self.plan_ms) if self.plan_ms else 0.0
        m["spark.codegen.compiles"] = sum(o.codegen[0] for o in ops) / n_ops
        m["spark.codegen.compile_s"] = sum(o.codegen[1] for o in ops) / 1e9 / n_ops

        gaps = []
        for o in ops:
            ivs = sorted((j["start"], j["end"]) for j in jobs_under(o))
            busy, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                busy += cur_e - cur_s
            gaps.append(o.dur - busy)
        m["driver.gap_s"] = statistics.fmean(gaps) if gaps else 0.0

        self_s = dict.fromkeys(SELF_LAYERS, 0.0)
        for s in spans:
            if s.op is None or not s.end:
                continue
            layer = s.name.split(".", 1)[0]
            if layer in self_s:
                self_s[layer] += s.dur - sum(spans[c].dur for c in s.children)
        for layer, v in self_s.items():
            m[f"self.{layer}_s"] = v / n_ops

        m["index_store.ann_recall_at_10"] = recall
        m.update(storage)
        m["trace.overhead_s"] = overhead_s
        dump = {
            "spans": [vars(s) | {"dur": s.dur} for s in spans],
            "jobs": jobs,
            "python_nodes": pynodes,
            "plan_ms": self.plan_ms,
        }
        return m, dump
