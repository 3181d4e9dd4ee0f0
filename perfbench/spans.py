"""Layer spans recorded from outside the program, and the per-layer
metrics computed from them.

A span is (name, start, end, parent). ``Tracer.installed`` wraps the
public names each layer is entered through (module attributes that the
calling module looked up at import time, so the wrapper replaces the
name where it is used) and restores them afterwards; workloads open
spans around the calls they make themselves. Spans are kept in memory.

Spark counters for a span are the stages, jobs and SQL executions that
were submitted inside its interval (``status.Harvest``). A span's self
time is its duration minus the part of it its child spans cover;
``driver_s`` is its duration minus the part covered by running jobs.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from status import Harvest

# layer → pipeline stage tables whose StageCatalog.write belongs to it
STAGE_FAMILY = {
    "uri_mapping": "plans.uri_mapping",
    "yago_classes": "plans.taxonomy",
    "class_mapping": "plans.taxonomy",
    "sub_class_of": "plans.taxonomy",
    "shape_instances": "plans.instances",
    "facts": "plans.facts",
    "annotated_facts": "plans.facts",
}
PLAN_LAYERS = ("plans.uri_mapping", "plans.taxonomy", "plans.instances",
               "plans.facts", "plans.outputs")
PLAN_METRICS = ("wall_s", "driver_s", "sql_executions", "executor_cpu_s",
                "shuffle_mb", "rows_out")
DEDUP_OPS = ("minhash_lsh_pairs", "simhash_near_dup_pairs",
             "ngram_jaccard_pairs", "dup_clusters")
PAIR_METRICS = ("wall_s", "executor_cpu_s", "shuffle_mb", "candidate_rows",
                "pairs_out", "verify_ratio")
LAYERS = ("pipeline", "catalog", *PLAN_LAYERS, "operators.closure",
          "sources.ntriples", "sources.statements", "operators.dedup",
          "operators.similarity", "operators.linking")
PARQUET_WRITE = "io.parquet_write"   # child span only; not a layer

# (module, attribute, span name) wrapped while a traced iteration runs
PATCHES = [
    ("yago4_spark.pipeline", "build_uri_mapping", "plans.uri_mapping"),
    ("yago4_spark.pipeline", "wikidata_to_enwiki_mapping",
     "plans.uri_mapping"),
    ("yago4_spark.pipeline", "build_taxonomy", "plans.taxonomy"),
    ("yago4_spark.pipeline", "build_shape_instances", "plans.instances"),
    ("yago4_spark.pipeline", "build_facts", "plans.facts"),
    *[("yago4_spark.pipeline", fn, "plans.outputs") for fn in (
        "build_classes_description", "build_full_instance_of",
        "build_same_as", "build_simple_instance_of",
        "build_simple_properties", "build_yago_schema_triples",
        "build_yago_shapes_triples")],
    ("yago4_spark.pipeline", "write_ntriples", "sources.ntriples.export"),
    ("yago4_spark.plans.taxonomy", "transitive_closure", "operators.closure"),
    ("yago4_spark.plans.taxonomy", "transitive_closure_pair",
     "operators.closure"),
    ("yago4_spark.plans.instances", "transitive_closure_pair",
     "operators.closure"),
    # imported inside build_taxonomy at call time, so patch the source
    ("yago4_spark.operators.closure", "transitive_closure_resumable",
     "operators.closure"),
]


def layer_of(name: str) -> str:
    if name.startswith("sources.ntriples"):
        return "sources.ntriples"
    for op in DEDUP_OPS:
        if name.endswith(op):
            return "operators.dedup"
    if name.endswith("embedding_near_dup_pairs"):
        return "operators.similarity"
    return name


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(span: Span, intervals) -> float:
    return sum(max(0.0, min(b, span.end) - max(a, span.start))
               for a, b in union(intervals))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.own_s = 0.0    # time spent opening and closing spans

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent, attrs=attrs))
        self._stack.append(idx)
        self.own_s += time.perf_counter() - t0
        try:
            yield self.spans[idx]
        finally:
            t0 = time.perf_counter()
            self._stack.pop()
            self.spans[idx].end = time.time()
            self.own_s += time.perf_counter() - t0

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)
        return wrapper

    @contextmanager
    def installed(self):
        """Wrap the program's layer entry points for one traced block."""
        from pyspark.sql.readwriter import DataFrameWriter

        from yago4_spark.catalog import StageCatalog

        saved = []

        def patch(owner, attr, name_of):
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name_of))

        for module, attr, name in PATCHES:
            patch(importlib.import_module(module), attr,
                  lambda *a, _n=name, **k: _n)
        patch(DataFrameWriter, "parquet", lambda *a, **k: PARQUET_WRITE)
        patch(StageCatalog, "read", lambda *a, **k: "catalog")
        write = StageCatalog.write
        saved.append((StageCatalog, "write", write))

        def traced_write(cat, name, df, *args, **kwargs):
            family = STAGE_FAMILY.get(name, "plans.outputs")
            with self.span(family, stage=name, catalog=cat):
                with self.span("catalog"):
                    return write(cat, name, df, *args, **kwargs)

        StageCatalog.write = traced_write
        try:
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)


# ---------------------------------------------------------------------
# per-layer metrics from spans + one status-store harvest
# ---------------------------------------------------------------------

def empty_layer_metrics() -> dict[str, float]:
    """Every per-layer metric, zero, in the order of the README table."""
    names = ["pipeline.self_s", "pipeline.cached_mb",
             "catalog.self_s", "catalog.sql_executions"]
    names += [f"{layer}.{k}" for layer in PLAN_LAYERS for k in PLAN_METRICS]
    names += [f"operators.closure.{k}"
              for k in ("wall_s", "sql_executions", "calls")]
    names += [f"sources.ntriples.{k}"
              for k in ("scan_s", "parse_write_s", "export_s", "export_mb")]
    names += [f"sources.statements.{k}"
              for k in ("write_s", "output_mb", "files")]
    names += [f"{op}.{k}" for op in (
        *[f"operators.dedup.{o}" for o in DEDUP_OPS],
        "operators.similarity.embedding_near_dup_pairs")
        for k in PAIR_METRICS]
    names += [f"operators.linking.{k}"
              for k in ("wall_s", "candidate_rows", "mentions_out")]
    names += [f"{layer}.failed_tasks" for layer in LAYERS]
    return dict.fromkeys(names, 0.0)


class SpanCounters:
    """Spark counters of the work submitted inside a span."""

    def __init__(self, harvest: Harvest) -> None:
        self.h = harvest

    @staticmethod
    def _inside(rec_start, span: Span) -> bool:
        # status-store times are whole milliseconds
        return rec_start is not None and \
            span.start - 0.001 <= rec_start <= span.end

    def stages(self, span: Span) -> list[dict]:
        return [s for s in self.h.stages if self._inside(s["start"], span)]

    def executions(self, span: Span):
        return [e for e in self.h.executions if self._inside(e.start, span)]

    def driver_s(self, span: Span) -> float:
        jobs = [(j["start"], j["end"]) for j in self.h.jobs
                if j["end"] is not None and self._inside(j["start"], span)]
        return span.dur - _covered(span, jobs)

    def cpu_s(self, span: Span) -> float:
        return sum(s["executorCpuTime"] for s in self.stages(span)) / 1e9

    def shuffle_mb(self, span: Span) -> float:
        return sum(s["shuffleWriteBytes"] for s in self.stages(span)) / 1e6

    def failed_tasks(self, span: Span) -> int:
        return sum(s["numFailedTasks"] for s in self.stages(span))

    def candidate_rows(self, span: Span) -> int:
        return sum(e.candidate_rows for e in self.executions(span))


def self_time(tracer: Tracer, idx: int) -> float:
    span = tracer.spans[idx]
    kids = [(s.start, s.end) for s in tracer.spans if s.parent == idx]
    return span.dur - _covered(span, kids)


def layer_metrics(tracer: Tracer, harvest: Harvest) -> dict[str, float]:
    """Per-layer metrics of one traced iteration."""
    m = empty_layer_metrics()
    c = SpanCounters(harvest)
    spans = tracer.spans
    outermost: dict[str, list[Span]] = {}
    for i, s in enumerate(spans):
        layer = layer_of(s.name)
        # count a layer's span once even when it nests inside itself
        # (a build_* call inside a traced StageCatalog.write, say)
        p, nested = s.parent, False
        while p is not None:
            if layer_of(spans[p].name) == layer:
                nested = True
                break
            p = spans[p].parent
        if not nested:
            outermost.setdefault(layer, []).append(s)
        if s.name == "pipeline":
            m["pipeline.self_s"] += self_time(tracer, i)
        elif s.name == "catalog":
            parquet = [(k.start, k.end) for k in spans
                       if k.parent == i and k.name == PARQUET_WRITE]
            m["catalog.self_s"] += s.dur - _covered(s, parquet)
            m["catalog.sql_executions"] += len(c.executions(s))

    for layer in LAYERS:
        m[f"{layer}.failed_tasks"] = float(sum(
            c.failed_tasks(s) for s in outermost.get(layer, ())))
    for layer in PLAN_LAYERS:
        for s in outermost.get(layer, ()):
            m[f"{layer}.wall_s"] += s.dur
            m[f"{layer}.driver_s"] += c.driver_s(s)
            m[f"{layer}.sql_executions"] += len(c.executions(s))
            m[f"{layer}.executor_cpu_s"] += c.cpu_s(s)
            m[f"{layer}.shuffle_mb"] += c.shuffle_mb(s)
            if "stage" in s.attrs:
                m[f"{layer}.rows_out"] += \
                    s.attrs["catalog"].manifest(s.attrs["stage"])["rows"]
    for s in outermost.get("operators.closure", ()):
        m["operators.closure.wall_s"] += s.dur
        m["operators.closure.sql_executions"] += len(c.executions(s))
        m["operators.closure.calls"] += 1
    for s in spans:
        if s.name == "sources.ntriples.export":
            m["sources.ntriples.export_s"] += s.dur
        elif s.name == "sources.ntriples.ingest":
            scans = [st for st in c.stages(s) if st["inputBytes"] > 0]
            writes = [st for st in c.stages(s) if st["outputBytes"] > 0]
            m["sources.ntriples.scan_s"] += max(
                (st["longest_task_s"] for st in scans), default=0.0)
            m["sources.ntriples.parse_write_s"] += sum(
                st["end"] - st["start"] for st in writes)
        elif s.name == "sources.statements":
            m["sources.statements.write_s"] += s.dur
        elif s.name.startswith("operators.dedup.") or \
                s.name.startswith("operators.similarity."):
            rows = c.candidate_rows(s)
            out = s.attrs.get("rows_out", 0)
            m[f"{s.name}.wall_s"] += s.dur
            m[f"{s.name}.executor_cpu_s"] += c.cpu_s(s)
            m[f"{s.name}.shuffle_mb"] += c.shuffle_mb(s)
            m[f"{s.name}.candidate_rows"] += rows
            m[f"{s.name}.pairs_out"] += out
            m[f"{s.name}.verify_ratio"] = out / rows if rows else 0.0
        elif s.name == "operators.linking":
            m["operators.linking.wall_s"] += s.dur
            m["operators.linking.candidate_rows"] += c.candidate_rows(s)
            m["operators.linking.mentions_out"] += s.attrs.get("rows_out", 0)
    return m
