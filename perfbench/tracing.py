"""Spans around the program's public functions, and Spark's own counters.

Everything here observes the program from outside: :class:`Tracer` swaps
each public function of the listed modules for a wrapper at every place a
caller resolves it (the defining module and every module that imported the
name), records a span per call, and puts the originals back on
:meth:`Tracer.uninstall`. Spark jobs are read from the application status
store and counted in every span that was open when they were submitted;
per-operator SQL metrics come from the SQL status store
(``executionsList`` / ``planGraph`` / ``executionMetrics``), which Spark
fills with the UI disabled.
"""

from __future__ import annotations

import copy
import functools
import importlib
import inspect
import re
import sys
import time
from dataclasses import dataclass, field

#: Layer name -> module. The layers are the program's modules; ``cli`` is
#: the stage script, whose ``cmd_<stage>`` functions become ``cli.<stage>``.
LAYERS: dict[str, str] = {
    "session": "chess_lakehouse_spark.session",
    "catalog": "chess_lakehouse_spark.catalog",
    "sources.pgn": "chess_lakehouse_spark.sources.pgn",
    "sources.openings": "chess_lakehouse_spark.sources.openings",
    "sources.jsonl": "chess_lakehouse_spark.sources.jsonl",
    "functions.chess": "chess_lakehouse_spark.functions.chess",
    "functions.text": "chess_lakehouse_spark.functions.text",
    "plans.pipeline": "chess_lakehouse_spark.plans.pipeline",
    "operators.enrich": "chess_lakehouse_spark.operators.enrich",
    "operators.publish": "chess_lakehouse_spark.operators.publish",
    "operators.relational": "chess_lakehouse_spark.operators.relational",
    "operators.dedup": "chess_lakehouse_spark.operators.dedup",
    "operators.graph": "chess_lakehouse_spark.operators.graph",
    "operators.sampling": "chess_lakehouse_spark.operators.sampling",
    "operators.similarity": "chess_lakehouse_spark.operators.similarity",
    "streaming.jobs": "chess_lakehouse_spark.streaming.jobs",
    "report": "chess_lakehouse_spark.report",
    "suite": "chess_lakehouse_spark.suite",
    "cli": "pipeline_cli",
}


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    job_s: float = 0.0
    #: jobs submitted while this was the innermost open span
    own_jobs: int = 0
    own_job_s: float = 0.0


@dataclass
class Job:
    job_id: int
    start: float
    end: float


class _Wrapped:
    """A traced stand-in for one function. It pickles as the original, so a
    closure shipped to an executor never carries the tracer along."""

    def __init__(self, fn, name: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._name = name
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.active:
            return self._fn(*args, **kwargs)
        idx = tracer.open(self._name)
        try:
            return self._fn(*args, **kwargs)
        finally:
            tracer.close(idx)

    def __reduce__(self):
        return (copy.copy, (self._fn,))


@dataclass
class Tracer:
    """Spans of one benchmark run. Spans stay in memory until the run ends."""

    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    active: bool = False
    op: int = -1  # the operation spans belong to; -1 before the first (set-up)
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, parent, time.time()))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        while self._stack and self._stack.pop() != idx:
            pass

    def install(self) -> None:
        """Wrap every public function of every layer, wherever it is bound;
        suite queries are wrapped in the ``suite.QUERIES`` table that
        callers look them up in."""
        originals: dict[int, _Wrapped] = {}
        for layer, modname in LAYERS.items():
            if layer == "suite":
                continue
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                label = attr[4:] if layer == "cli" and attr.startswith("cmd_") else attr
                originals[id(fn)] = _Wrapped(fn, f"{layer}.{label}", self)
        from chess_lakehouse_spark import suite

        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "")
            if not (modname.startswith("chess_lakehouse_spark") or modname == "pipeline_cli"):
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None:
                    setattr(mod, attr, wrapped)
                    self._patches.append((mod, attr, val))
        for name, fn in list(suite.QUERIES.items()):
            suite.QUERIES[name] = _Wrapped(fn, "suite.query", self)
            self._patches.append((suite.QUERIES, name, fn))

    def uninstall(self) -> None:
        for target, attr, val in reversed(self._patches):
            if isinstance(target, dict):
                target[attr] = val
            else:
                setattr(target, attr, val)
        self._patches.clear()

    def attach_jobs(self, jobs: list[Job], first_span: int = 0) -> None:
        """Count each job in every span of ``spans[first_span:]`` that was
        open when the job was submitted, and once more, as its own job, in
        the innermost of them (the one opened last)."""
        self.jobs.extend(jobs)
        for job in jobs:
            innermost = None
            for s in self.spans[first_span:]:
                if s.start <= job.start <= s.end:
                    s.jobs += 1
                    s.job_s += job.end - job.start
                    innermost = s
            if innermost is not None:
                innermost.own_jobs += 1
                innermost.own_job_s += job.end - job.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    child_cover = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_cover[s.parent] += s.end - s.start
    return [s.end - s.start - c for s, c in zip(spans, child_cover)]


def layer_table(spans: list[Span]) -> dict[str, float]:
    """Per layer and per span name: ``.calls``, ``.self_s``, and inclusive
    ``_s``, ``.jobs`` and ``.job_s``. Inclusive numbers count only the
    outermost span of a nest of same-named (or same-layer) spans, so
    recursion is not counted twice."""
    selfs = self_times(spans)
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for s, st in zip(spans, selfs):
        parent = spans[s.parent] if s.parent is not None else None
        for key, outer in ((s.name, parent is None or parent.name != s.name),
                           (layer_of(s.name), parent is None or layer_of(parent.name) != layer_of(s.name))):
            add(f"{key}.calls", 1)
            add(f"{key}.self_s", st)
            if outer:
                add(f"{key}_s", s.end - s.start)
                add(f"{key}.jobs", s.jobs)
                add(f"{key}.job_s", s.job_s)
    return out


def layer_of(span_name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return span_name.split(".")[0]


# --- Spark status stores -----------------------------------------------------


def _conv(spark):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters


def spark_jobs(spark, after_id: int) -> list[Job]:
    """Finished jobs with an id above ``after_id``, oldest first."""
    store = spark._jsc.sc().statusStore()
    out = []
    for j in _conv(spark).asJava(store.jobsList(None)):
        if j.jobId() <= after_id or j.submissionTime().isEmpty():
            continue
        start = j.submissionTime().get().getTime() / 1000
        end = j.completionTime().get().getTime() / 1000 if j.completionTime().isDefined() else time.time()
        out.append(Job(j.jobId(), start, end))
    return sorted(out, key=lambda j: j.job_id)


def last_job_id(spark) -> int:
    jobs = _conv(spark).asJava(spark._jsc.sc().statusStore().jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_VALUE_RE = re.compile(r"^([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as Spark formats it: ``'1,000'``, ``'0.0 B'`` or
    ``'total (min, med, max ...)\\n6.5 s (2.2 s, ...)'`` → number in base
    units (seconds, bytes, count)."""
    line = text.split("\n")[-1].strip()
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: (node-name pattern, metric name) -> key in the per-operation metric map
SQL_METRICS = {
    ("MapInPandas", "time to run Python workers"): "map_in_pandas_run_s",
    ("ArrowEvalPython", "time to run Python workers"): "arrow_eval_python_run_s",
    ("", "time to run Python workers"): "python_run_s",
    ("Exchange", "shuffle bytes written"): "shuffle_write_bytes",
    ("", "spill size"): "spill_bytes",
    ("", "number of written files"): "files_written",
}


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _conv(spark).asJava(store.executionsList())), default=-1)


_NODE_RE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b><br><br>(.*?)" tooltip=')


def plan_metrics(dot: str):
    """(node name, metric name, value) for every operator metric in the
    DOT rendering of an executed plan, as ``SparkPlanGraph.makeDotFile``
    writes it: ``<b>Node</b><br><br>name: value<br>name total (...)<br>value (...)``."""
    for m in _NODE_RE.finditer(dot):
        node, parts = m.group(1), m.group(2).split("<br>")
        i = 0
        while i < len(parts):
            if " total (" in parts[i] and i + 1 < len(parts):
                yield node, parts[i].split(" total (")[0], parse_metric(parts[i + 1])
                i += 2
                continue
            if ": " in parts[i]:
                name, value = parts[i].split(": ", 1)
                yield node, name, parse_metric(value)
            i += 1


def sql_metrics(spark, after_id: int) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """The SQL metrics of every SQL execution with an id above ``after_id``
    (three JVM calls per execution: the plan graph rendered with its metric
    values), summed two ways: the keys of :data:`SQL_METRICS`, and every
    metric per operator name."""
    conv = _conv(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    selected: dict[str, float] = {}
    operators: dict[str, dict[str, float]] = {}
    for e in conv.asJava(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        for node, metric, value in plan_metrics(dot):
            per_node = operators.setdefault(node, {})
            per_node[metric] = per_node.get(metric, 0.0) + value
            for (node_pat, name), key in SQL_METRICS.items():
                if metric == name and node.startswith(node_pat):
                    selected[key] = selected.get(key, 0.0) + value
    return selected, operators
