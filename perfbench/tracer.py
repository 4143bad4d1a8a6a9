"""Per-layer spans around kgforge's public functions (traced mode only).

Each layer's function is wrapped at its module attribute, so callers that
resolve the name through the module at call time go through the wrapper.
A span gets its own Spark job group; when it closes, the listener bus is
drained and the span's jobs and stages are read from the status store —
read at close because the store keeps only the most recent jobs and stages.
DataFrame results are persisted and counted inside the span, so the work a
layer defines is charged to that layer rather than to whichever later
action happens to run it.

Spans are kept in memory and written out as JSON lines at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

# (module, attribute, layer); a span is named after the attribute.  Callers
# reach these through the module attribute: kgforge.api, the engine's
# ``ops``/``kpi_mod`` module objects, build_kg's module globals, and the
# call-time import of serialize_jsonld in kgforge.api.
TARGETS = (
    ("kgforge.kg.pipeline", "explode_spans", "kg.synth"),
    ("kgforge.kg.pipeline", "detect_mentions", "kg.mentions"),
    ("kgforge.kg.pipeline", "link_mentions", "kg.linking"),
    ("kgforge.kg.pipeline", "build_kg", "kg.pipeline"),
    ("kgforge.kg.io", "write_graph", "kg.io"),
    ("kgforge.sparql", "sparql_select", "sparql"),
    ("kgforge.api", "flat_rows_to_triples", "ingest"),
    ("kgforge.api", "jsonld_to_triples", "ingest"),
    ("kgforge.api", "anonymize_flat_json", "api"),
    ("kgforge.api", "anonymize_jsonld_response", "api"),
    ("kgforge.api", "anonymize_triples", "anonymize.engine"),
    ("kgforge.anonymize.ops", "mask", "anonymize.ops"),
    ("kgforge.anonymize.ops", "generalize", "anonymize.ops"),
    ("kgforge.anonymize.ops", "generalize_object", "anonymize.ops"),
    ("kgforge.anonymize.ops", "randomize", "anonymize.ops"),
    ("kgforge.anonymize.kpi", "k_anonymity", "anonymize.kpi"),
    ("kgforge.jsonld_out", "serialize_jsonld", "jsonld_out"),
    ("kgforge.api", "flat_json_output", "anonymize.flat_output"),
)

LAYERS = (
    "kg.synth", "kg.mentions", "kg.linking", "kg.pipeline", "kg.io", "sparql",
    "ingest", "api", "anonymize.engine", "anonymize.ops", "anonymize.kpi",
    "jsonld_out", "anonymize.flat_output",
)
GENERIC = ("wall_s", "driver_s", "jobs", "task_busy_s", "max_task_s",
           "shuffle_bytes", "failed_tasks")
SPECIFIC = (
    ("kg.synth.spans_out", "count"),
    ("kg.mentions.mentions_out", "count"),
    ("kg.linking.linked_frac", "ratio"),
    ("kg.pipeline.surfaces", "count"),
    ("kg.io.bytes_written", "B"),
    ("sparql.rows_scanned_per_row", "ratio"),
    ("anonymize.ops.randomize.wall_s", "s"),
    ("anonymize.ops.generalize.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.bookkeeping_s", "s"),
)
GENERIC_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count",
                 "task_busy_s": "s", "max_task_s": "s", "shuffle_bytes": "B",
                 "failed_tasks": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in reporting order."""
    units = {f"{layer}.{m}": GENERIC_UNITS[m] for layer in LAYERS for m in GENERIC}
    units.update(dict(SPECIFIC))
    return units


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    group: str
    start: float
    end: float = 0.0
    children_s: float = 0.0
    child_intervals: list = field(default_factory=list)
    jobs: int = 0
    task_busy_s: float = 0.0
    max_task_s: float = 0.0
    shuffle_bytes: int = 0
    failed_tasks: int = 0
    input_records: int = 0
    driver_s: float = 0.0
    rows_out: int | None = None
    extra: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (snapshot metadata excluded)."""
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith((".", "_")))
    return total


def _annotate(span: Span, args, kwargs, out) -> None:
    """Layer-specific counts that the call's result or arguments carry."""
    if span.name == "build_kg":
        span.extra["surfaces"] = out[1].get("n_surfaces", 0)
    elif span.name == "write_graph":
        span.extra["bytes_written"] = dir_bytes(kwargs.get("path") or args[1])


class Tracer:
    """Install with :meth:`install`, run the traced operations, then
    :meth:`uninstall`; :meth:`release` unpersists what spans materialized."""

    ROOT_GROUP = "perfbench-untraced"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self._persisted: list = []
        self._seen_stages: set[tuple[int, int]] = set()
        self.bookkeeping_s = 0.0

    # --- wrapping -------------------------------------------------------

    def install(self) -> None:
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, layer, attr))
            self._patches.append((mod, attr, orig))
        self.sc.setJobGroup(self.ROOT_GROUP, "perfbench")

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(layer, name)
            try:
                out = self._materialize(fn(*args, **kwargs), span)
                _annotate(span, args, kwargs, out)
                return out
            except BaseException as exc:
                span.error = type(exc).__name__
                raise
            finally:
                self._close(span)

        return traced

    def _materialize(self, out, span: Span):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out = out.persist()
            span.rows_out = out.count()
            self._persisted.append(out)
        elif isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
            out = (self._materialize(out[0], span),) + out[1:]
        return out

    # --- spans ----------------------------------------------------------

    def _open(self, layer: str, name: str) -> Span:
        t0 = time.perf_counter()
        sid = len(self.spans) + len(self._stack)
        parent = self._stack[-1].id if self._stack else None
        span = Span(sid, parent, layer, name, f"perfbench-span-{sid}", 0.0)
        self.sc.setJobGroup(span.group, f"{layer}:{name}")
        self._stack.append(span)
        self.bookkeeping_s += time.perf_counter() - t0
        span.start = time.time()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        t0 = time.perf_counter()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            parent.children_s += span.end - span.start
            parent.child_intervals.append((span.start, span.end))
            self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
        else:
            self.sc.setJobGroup(self.ROOT_GROUP, "perfbench")
        self._read_counts(span)
        self.spans.append(span)
        self.bookkeeping_s += time.perf_counter() - t0

    def _read_counts(self, span: Span) -> None:
        self._ssc.listenerBus().waitUntilEmpty()
        store = self._store
        job_intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(span.group):
            job = store.job(jid)
            span.jobs += 1
            sub = job.submissionTime()
            done = job.completionTime()
            if sub.isDefined():
                job_intervals.append((
                    sub.get().getTime() / 1000.0,
                    done.get().getTime() / 1000.0 if done.isDefined() else span.end,
                ))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(span, stage_ids.apply(i))
        # driver time: the span's own interval that neither a child span
        # nor one of its own Spark jobs covers
        span.driver_s = max(0.0, (span.end - span.start) - _covered(
            span.child_intervals + job_intervals, span.start, span.end))

    def _add_stage(self, span: Span, stage_id: int) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._jvm.java.util.ArrayList(), False,
            self._no_quantiles,
        )
        for i in range(attempts.size()):
            st = attempts.apply(i)
            key = (stage_id, st.attemptId())
            if key in self._seen_stages or st.numCompleteTasks() + st.numFailedTasks() == 0:
                continue  # skipped stage (its work was charged when it ran)
            self._seen_stages.add(key)
            span.task_busy_s += st.executorRunTime() / 1000.0
            span.shuffle_bytes += st.shuffleWriteBytes()
            span.failed_tasks += st.numFailedTasks()
            span.input_records += st.inputRecords()
            longest = self._store.taskList(
                stage_id, st.attemptId(), 0, 1, self._jvm.scala.Some("ert"),
                False, self._jvm.java.util.ArrayList(),
            )
            if longest.size():
                metrics = longest.apply(0).taskMetrics()
                if metrics.isDefined():
                    span.max_task_s = max(
                        span.max_task_s, metrics.get().executorRunTime() / 1000.0
                    )

    # --- reporting ------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer aggregates over every closed span (0 for layers the
        workload never called)."""
        out = {name: 0.0 for name in per_layer_units()}
        rows_by_name: dict[str, int] = {}
        scanned = 0
        for s in self.spans:
            p = s.layer + "."
            out[p + "wall_s"] += s.self_s
            out[p + "driver_s"] += s.driver_s
            out[p + "jobs"] += s.jobs
            out[p + "task_busy_s"] += s.task_busy_s
            out[p + "max_task_s"] = max(out[p + "max_task_s"], s.max_task_s)
            out[p + "shuffle_bytes"] += s.shuffle_bytes
            out[p + "failed_tasks"] += s.failed_tasks
            if s.rows_out is not None:
                rows_by_name[s.name] = rows_by_name.get(s.name, 0) + s.rows_out
            if s.layer == "anonymize.ops" and s.name in ("randomize", "generalize"):
                out[f"anonymize.ops.{s.name}.wall_s"] += s.self_s
            if s.layer == "sparql":
                scanned += s.input_records
            out["kg.pipeline.surfaces"] = max(
                out["kg.pipeline.surfaces"], s.extra.get("surfaces", 0))
            out["kg.io.bytes_written"] += s.extra.get("bytes_written", 0)
        out["kg.synth.spans_out"] = rows_by_name.get("explode_spans", 0)
        out["kg.mentions.mentions_out"] = rows_by_name.get("detect_mentions", 0)
        if out["kg.mentions.mentions_out"]:
            out["kg.linking.linked_frac"] = (
                rows_by_name.get("link_mentions", 0) / out["kg.mentions.mentions_out"]
            )
        result_rows = rows_by_name.get("sparql_select", 0)
        out["sparql.rows_scanned_per_row"] = scanned / result_rows if result_rows else 0.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec.pop("child_intervals")
                rec["self_s"] = s.self_s
                f.write(json.dumps(rec) + "\n")
