"""Traced mode: spans around the program's layers, attributed Spark work.

The tracer replaces the public functions of each layer module with a
wrapper *at module level* (and the public methods of its table/log
classes), so calls made inside the program are caught too, not only the
benchmark's own.  Each span:

* records name, start, end and parent, and a Spark job group
  ``pb:<span index>``, so every Spark job is attributed to the innermost
  span that launched it;
* materializes a lazy DataFrame result of a compute layer (``cache`` +
  ``count``) so the Spark work of building it lands in its own span
  rather than in whichever later call happens to run an action.

After the work, :meth:`Tracer.harvest` reads every attributed stage from
Spark's status store (it is populated with the UI disabled) and sums the
counters per layer.  Self time is a span's duration minus the part of it
its child spans cover.
"""

from __future__ import annotations

import functools
import inspect
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "kg", "icetable", "lineage", "dedup", "textstats",
          "lmscore", "curation", "jobs")
# layers whose DataFrame results are lazy plans worth materializing
COMPUTE_LAYERS = ("kg", "dedup", "textstats", "lmscore", "curation")
SPARK_COUNTERS = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_bytes", "spill_bytes", "task_skew")

# span name -> reported self-time metric (several spans may share one)
TIME_METRICS = {
    "session._warm_engine": "session.warm_s",
    "kg.surfaces": "kg.surfaces_s",
    "kg.surface_signatures": "kg.signatures_s",
    "kg.candidate_pairs": "kg.candidate_pairs_s",
    "kg.connected_components": "kg.connected_components_s",
    "kg.triples": "kg.triples_s",
    "kg.build_link_dicts": "kg.link_dicts_s",
    "kg.link_scores": "kg.link_scores_s",
    "icetable.write": "icetable.write_s",
    "lineage.append": "lineage.append_s",
    "lineage.records": "lineage.records_s",
    "lineage.content_fingerprint": "lineage.fingerprint_s",
    "dedup.minhash_dedup": "dedup.minhash_s",
    "curation.corpus_filter": "curation.filter_s",
    "curation.decontam_overlap": "curation.decontam_s",
    "curation.pack_sequences": "curation.pack_s",
}
COUNT_METRICS = ("kg.cc_iterations", "kg.pairs_candidate", "kg.pairs_merged",
                 "kg.pair_yield", "kg.cooc_rows", "dedup.pair_yield",
                 "icetable.commits", "icetable.files_written",
                 "icetable.bytes_written")
TRACE_METRICS = ("trace.op_s", "trace.bookkeeping_s")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in a fixed order."""
    names = sorted(set(TIME_METRICS.values()) | {f"{x}.s" for x in LAYERS})
    names += list(COUNT_METRICS)
    names += [f"{layer}.{c}" for layer in LAYERS for c in SPARK_COUNTERS]
    return names + list(TRACE_METRICS)


def metric_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("pair_yield", "task_skew")):
        return "ratio"
    return "count"


@dataclass
class Span:
    name: str
    layer: str
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Duration of each span minus the union of its children's intervals
    (clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, ())):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def _wants_wrap(fn) -> bool:
    """DataFrame-level API functions only: per-row kernels (called inside
    Spark workers and by the golden replays) stay untouched."""
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return False
    notes = [str(p.annotation) for p in sig.parameters.values()]
    notes.append(str(sig.return_annotation))
    return any("DataFrame" in n for n in notes)


def _dataframes(result):
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, (tuple, list)):
        return [r for r in result if isinstance(r, DataFrame)]
    return []


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase: str | None = None  # None: calls pass through untraced
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._cached: list = []
        self._patched: list[tuple[object, str, object]] = []
        self._counters: dict[str, dict[str, float]] = {}
        self._skew: dict[str, list[float]] = {}

    # -- installation --------------------------------------------------------

    def install(self) -> None:
        from deduce_spark.spark import (
            curation, dedup, iceberg_catalog, icetable, kg, lineage, lmscore,
            session, textstats,
        )

        for mod, layer in ((kg, "kg"), (dedup, "dedup"),
                           (textstats, "textstats"), (lmscore, "lmscore"),
                           (curation, "curation"), (lineage, "lineage"),
                           (iceberg_catalog, "icetable")):
            for attr, fn in list(vars(mod).items()):
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__ and _wants_wrap(fn)):
                    self._patch(mod, attr, f"{layer}.{attr}", layer)
        # named entry points without DataFrame annotations
        self._patch(kg, "build_link_dicts", "kg.build_link_dicts", "kg")
        self._patch(lineage, "content_fingerprint",
                    "lineage.content_fingerprint", "lineage")
        # dedup imports connected_components from kg by name: its own span
        self._patch(dedup, "connected_components",
                    "dedup.connected_components", "dedup")
        self._patch(session, "_warm_engine", "session._warm_engine", "session")
        self._patch(session, "get_spark", "session.get_spark", "session")
        for cls, layer in ((icetable.IceTable, "icetable"),
                           (lineage.LineageLog, "lineage")):
            for attr, fn in list(vars(cls).items()):
                if not attr.startswith("_") and inspect.isfunction(fn):
                    self._patch(cls, attr, f"{layer}.{attr}", layer)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch(self, owner, attr: str, name: str, layer: str) -> None:
        orig = getattr(owner, attr)
        if getattr(orig, "__perfbench_span__", None):
            return
        setattr(owner, attr, self.wrap(orig, name, layer))
        self._patched.append((owner, attr, orig))

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.phase is None:
                return fn(*args, **kwargs)
            with tracer.span(name, layer) as span:
                if name.endswith("connected_components") and args:
                    args = (tracer._count_input(span, args[0]),) + args[1:]
                result = fn(*args, **kwargs)
                if layer in COMPUTE_LAYERS:
                    for df in _dataframes(result):
                        tracer._cached.append(df.cache())
                        df.count()
                tracer._after(span, name, result)
                return result

        traced.__perfbench_span__ = name
        return traced

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def traced_phase(self, phase: str):
        """Spans opened inside belong to ``phase`` ('setup' or 'op')."""
        prev, self.phase = self.phase, phase
        try:
            yield
        finally:
            self.phase = prev

    @contextmanager
    def operation(self, job: str):
        """One timed operation: its spans belong to the 'op' phase, under a
        root span for the job; frames the tracer cached are released after."""
        try:
            with self.traced_phase("op"), self.span(job, "jobs"):
                yield
        finally:
            self.release()

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, layer, self.phase or "", parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, idx: int | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        sc.setLocalProperty("spark.jobGroup.id",
                            None if idx is None else f"pb:{idx}")

    @contextmanager
    def bookkeeping(self):
        """Tracer-only work, as a span of the pseudo-layer 'trace': it is
        excluded from its parent's self time and from every layer."""
        with self.span("trace.bookkeeping", "trace") as span:
            yield
        self.bookkeeping_s += span.end - span.start

    def _count_input(self, span: Span, edges):
        # the connected-components input is the verified candidate-pair
        # set; the function caches and counts it first thing, so counting
        # it here adds no Spark work beyond that one pass
        edges = edges.cache()
        self._cached.append(edges)
        span.counters["pairs_candidate"] = edges.count()
        return edges

    def _after(self, span: Span, name: str, result) -> None:
        from pyspark.sql import functions as F

        if name.endswith("connected_components"):
            from deduce_spark.spark import kg

            span.counters["cc_iterations"] = getattr(
                kg.connected_components, "last_rounds", 0) or 0
            with self.bookkeeping():
                row = result.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("component").alias("c"),
                ).collect()[0]
            span.counters["pairs_merged"] = int(row["n"]) - int(row["c"])
        elif name == "icetable.write" and isinstance(result, dict):
            snap = f"data/snap-{result['snapshot_id']}"
            new = [e for e in result["entries"]
                   if e["dir"] == snap or e["dir"].startswith(snap + "/")]
            span.counters["commits"] = 1
            span.counters["files_written"] = sum(len(e["files"]) for e in new)
            span.counters["bytes_written"] = sum(e["bytes"] for e in new)

    def release(self) -> None:
        """Unpersist every frame the tracer cached."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- Spark counters --------------------------------------------------------

    def harvest(self, sc) -> None:
        """Sum the status store's stage metrics per layer; call before the
        SparkContext stops (each context has its own store)."""
        t0 = time.perf_counter()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        quant = sc._gateway.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        jobs = store.jobsList(None)
        seen: set[int] = set()
        for j in range(jobs.size()):
            job = jobs.apply(j)
            group = job.jobGroup()
            gid = group.get() if group.isDefined() else None
            if not gid or not gid.startswith("pb:"):
                continue
            span = self.spans[int(gid[3:])]
            if span.layer not in LAYERS:
                continue  # the tracer's own bookkeeping
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted from store
                    continue
                done = st.numCompleteTasks()
                if done == 0:
                    continue  # skipped stage (shuffle output reused)
                key = f"{span.phase}:{span.layer}"
                c = self._counters.setdefault(key, {})
                c["stages"] = c.get("stages", 0) + 1
                c["tasks"] = c.get("tasks", 0) + done
                c["executor_run_s"] = c.get("executor_run_s", 0) + st.executorRunTime() / 1e3
                c["executor_cpu_s"] = c.get("executor_cpu_s", 0) + st.executorCpuTime() / 1e9
                c["gc_s"] = c.get("gc_s", 0) + st.jvmGcTime() / 1e3
                c["shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0) + st.shuffleWriteBytes()
                c["spill_bytes"] = c.get("spill_bytes", 0) + st.memoryBytesSpilled()
                if done >= 2:
                    dist = store.taskSummary(sid, st.attemptId(), quant)
                    if dist.isDefined():
                        rt = dist.get().executorRunTime()
                        sk = self._skew.setdefault(key, [0.0, 0.0])
                        sk[0] += rt.apply(0)
                        sk[1] += rt.apply(1)
        self.bookkeeping_s += time.perf_counter() - t0

    # -- report ------------------------------------------------------------------

    def metrics(self, n_setups: int, n_ops: int, op_s: list[float],
                extra: dict[str, float] | None = None) -> dict[str, float]:
        """Per-layer metrics per operation: op-phase totals / n_ops plus
        setup-phase totals / n_setups.  ``task_skew`` is, per phase, the sum
        of stage max task times over the sum of stage medians (the larger
        phase's value is kept)."""
        per = {"setup": max(1, n_setups), "op": max(1, n_ops)}
        out = {name: 0.0 for name in per_layer_names()}
        pairs: dict[str, Counter] = {}  # layer -> candidate/merged pairs
        for span, self_s in zip(self.spans, self_times(self.spans)):
            if span.phase not in per or span.layer not in LAYERS:
                continue
            w = 1.0 / per[span.phase]
            out[f"{span.layer}.s"] += self_s * w
            if span.name in TIME_METRICS:
                out[TIME_METRICS[span.name]] += self_s * w
            for k, v in span.counters.items():
                if f"{span.layer}.{k}" in out:
                    out[f"{span.layer}.{k}"] += v * w
                if k.startswith("pairs_"):
                    pairs.setdefault(span.layer, Counter())[k] += v * w
        for key, c in self._counters.items():
            phase, layer = key.split(":")
            if phase in per:
                for name, v in c.items():
                    out[f"{layer}.{name}"] += v / per[phase]
        for key, (med, mx) in self._skew.items():
            phase, layer = key.split(":")
            if phase in per and med > 0:
                out[f"{layer}.task_skew"] = max(out[f"{layer}.task_skew"],
                                                mx / med)
        for layer, c in pairs.items():
            if c["pairs_candidate"]:
                out[f"{layer}.pair_yield"] = (c["pairs_merged"]
                                              / c["pairs_candidate"])
        for k, v in (extra or {}).items():
            out[k] += v
        out["trace.op_s"] = statistics.median(op_s) if op_s else 0.0
        out["trace.bookkeeping_s"] = self.bookkeeping_s
        return out
