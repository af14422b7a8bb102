"""Per-layer tracing for one pipeline call.

Spans are recorded from the benchmark's side: while a `Tracer` window is
open, the public calls of each layer (the module names in `LAYER_CALLS`)
are wrapped, every span runs its Spark jobs under its own job group, and
the CPU of the pyspark daemon and workers is read from /proc at every span
boundary. After the session stops, `layer_table` joins the spans with the
Spark event log.

Attribution rules (each Spark job belongs to exactly one layer):

- a job started inside a layer call belongs to that call's layer; nested
  calls own their own jobs, and self time excludes child spans;
- Spark is lazy, so most work runs inside `TableCatalog.write`/`upsert`;
  such a write belongs to the layer that produced the table
  (`TABLE_LAYER`), `TableCatalog.read` belongs to `catalog`;
- an action (count, collect, localCheckpoint, ...) the plan body calls
  outside any span belongs to the layer whose call returned the DataFrame
  it derives from (the left-most parent for joins and unions);
- everything else in the window (jobs on frames no layer returned, and
  driver time between spans) is `unattributed`.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import sys
import time
from collections import defaultdict
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame

from perfbench import procfs

_PKG = "graph_rag_agent_spark"
LAYER_CALLS: Dict[str, List[Tuple[str, str]]] = {
    "chunker": [("operators.chunker", "chunk_documents")],
    "extraction": [("operators.extraction", "extract_chunks")],
    "parsing": [("operators.parsing", n) for n in (
        "parse_records", "occurrences_from_records",
        "relationships_from_records", "derive_nodes", "derive_mentions")],
    "embeddings": [("operators.embeddings", "embed_entities"),
                   ("operators.embeddings", "embed_chunks")],
    "canonicalize": [("operators.canonicalize", "canonicalize")],
    "communities": [("operators.communities", n) for n in (
        "detect_communities", "community_membership", "community_hierarchy",
        "community_rank", "summarize_communities")],
    "pagerank": [("operators.pagerank", "pagerank_projection")],
    "graph_metrics": [("operators.graph_metrics", "graph_quality_report")],
    "incremental": [("operators.incremental", "detect_changes"),
                    ("operators.incremental", "chunks_of_docs"),
                    ("operators.consistency", "validation_report"),
                    ("operators.consistency", "repair")],
}
LAYERS = list(LAYER_CALLS) + ["catalog", "unattributed"]

# stage table -> layer that produced it (BuildPipeline and run_once tables);
# tables not listed (corpus, registry, build_metrics) are the catalog's own
TABLE_LAYER = {
    "chunks": "chunker",
    "extraction_cache": "extraction",
    "records": "parsing", "occurrences": "parsing", "edges_raw": "parsing",
    "nodes_raw": "parsing", "mentions_raw": "parsing",
    "entity_embeddings": "embeddings", "chunk_embeddings": "embeddings",
    "similar": "canonicalize", "wcc": "canonicalize", "nodes": "canonicalize",
    "edges": "canonicalize", "mentions": "canonicalize",
    "lpa_membership": "communities", "entity_communities": "communities",
    "communities": "communities", "community_hierarchy": "communities",
    "community_summaries": "communities",
    "entity_pagerank": "pagerank",
    "graph_quality": "graph_metrics",
}

_ACTIONS = ("count", "collect", "toPandas", "take", "head", "first", "isEmpty",
            "localCheckpoint", "checkpoint", "foreach", "foreachPartition",
            "toLocalIterator", "show")
_TAG = "_perfbench_layer"
_OUTSIDE_GROUP = "pb0:unattributed"

COMMON_METRICS = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("python_cpu_s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
    ("core_util", "ratio"),
]
LAYER_COUNTS = [
    ("extraction.extractor_rows", "rows"), ("extraction.cache_hit_frac", "ratio"),
    ("embeddings.entity_rows", "rows"), ("embeddings.chunk_rows", "rows"),
    ("embeddings.failed_rows", "rows"), ("canonicalize.entities_in", "rows"),
    ("canonicalize.similar_pairs", "rows"), ("canonicalize.entities_merged", "rows"),
    ("communities.projected_edges", "rows"), ("catalog.bytes_written", "B"),
]


def per_layer_names() -> List[Tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in COMMON_METRICS]
    return names + LAYER_COUNTS + [("tracing.overhead_s", "s")]


def _tag(obj, layer: str, force: bool = False) -> None:
    """Mark the frames in `obj` as derived from `layer`'s output. A layer
    call's own output is always its layer's (`force`), even if the frame
    inherited another tag from its inputs inside the call."""
    if isinstance(obj, DataFrame):
        if force or obj.__dict__.get(_TAG) is None:
            obj.__dict__[_TAG] = layer
    elif isinstance(obj, tuple):
        for item in obj:
            _tag(item, layer, force)


class Tracer:
    """Spans for one pipeline call. Use as a context manager around the
    call; `returns` keeps the last value each wrapped call returned."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self._df_class = type(spark.range(0))  # the class frames are built as
        self.returns: Dict[str, object] = {}
        self.self_wall: Dict[str, float] = defaultdict(float)
        self.self_python_cpu: Dict[str, float] = defaultdict(float)
        self.t0_ms = self.t1_ms = 0
        self.bookkeeping_s = 0.0  # driver time spent in _enter/_exit
        self._ids = itertools.count(1)
        self.span_wall: Dict[str, float] = defaultdict(float)  # self time by span name
        self._daemons: List[int] = []
        self._stack: List[Tuple[str, str, str]] = []  # (job group, layer, name)
        self._undo: List[Tuple[object, str, object]] = []
        self._last = (0.0, 0.0)

    # -- span bookkeeping ---------------------------------------------------
    def _python_cpu(self) -> float:
        # the daemon starts with the first Python UDF and lives as long as
        # the JVM; look it up again only if it is not there
        if not self._daemons or not all(os.path.exists(f"/proc/{d}") for d in self._daemons):
            self._daemons = procfs.python_daemons(self.jvm_pid)
        return procfs.python_cpu_s(self._daemons)

    def _tick(self) -> None:
        now, cpu = time.perf_counter(), self._python_cpu()
        span = self._stack[-1] if self._stack else (_OUTSIDE_GROUP, "unattributed", "")
        self.self_wall[span[1]] += now - self._last[0]
        self.self_python_cpu[span[1]] += cpu - self._last[1]
        self.span_wall[f"{span[1]}: {span[2]}"] += now - self._last[0]
        self._last = (now, cpu)

    def _enter(self, layer: str, what: str) -> None:
        t = time.perf_counter()
        self._tick()
        group = f"pb{next(self._ids)}:{layer}"
        self._stack.append((group, layer, what))
        self.sc.setJobGroup(group, what)
        self.bookkeeping_s += time.perf_counter() - t

    def _exit(self) -> None:
        t = time.perf_counter()
        self._tick()
        self._stack.pop()
        group = self._stack[-1][0] if self._stack else _OUTSIDE_GROUP
        self.sc.setJobGroup(group, group)
        self.bookkeeping_s += time.perf_counter() - t

    def span(self, layer: str, what: str, fn, *args, **kwargs):
        self._enter(layer, what)
        try:
            return fn(*args, **kwargs)
        finally:
            self._exit()

    # -- patching ------------------------------------------------------------
    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, owner.__dict__.get(name)))
        setattr(owner, name, value)

    def _wrap_call(self, fn, layer: str, what: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            out = tracer.span(layer, what, fn, *args, **kwargs)
            _tag(out, layer, force=True)
            tracer.returns[what] = out
            return out

        return traced

    def _patch_layers(self) -> None:
        for layer, calls in LAYER_CALLS.items():
            for mod_name, fn_name in calls:
                mod = importlib.import_module(f"{_PKG}.{mod_name}")
                orig = getattr(mod, fn_name)
                traced = self._wrap_call(orig, layer, fn_name)
                # rebind every `from ... import name` copy in the package too
                for name, m in list(sys.modules.items()):
                    if name.startswith(_PKG) and m is not None:
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                self._set(m, attr, traced)

    def _patch_catalog(self) -> None:
        from graph_rag_agent_spark.sources.catalog import TableCatalog

        tracer = self

        def table_layer(name: str) -> str:
            return TABLE_LAYER.get(name.split("__")[0], "catalog")

        read, write, upsert = TableCatalog.read, TableCatalog.write, TableCatalog.upsert

        def traced_read(cat, name):
            out = tracer.span("catalog", f"read {name}", read, cat, name)
            _tag(out, "catalog", force=True)
            return out

        def traced_write(cat, df, name, *args, **kwargs):
            return tracer.span(table_layer(name), f"write {name}", write,
                               cat, df, name, *args, **kwargs)

        def traced_upsert(cat, name, *args, **kwargs):
            return tracer.span(table_layer(name), f"upsert {name}", upsert,
                               cat, name, *args, **kwargs)

        self._set(TableCatalog, "read", traced_read)
        self._set(TableCatalog, "write", traced_write)
        self._set(TableCatalog, "upsert", traced_upsert)

    def _patch_dataframe(self) -> None:
        tracer = self
        cls = self._df_class
        for name in dir(cls):
            if name.startswith("_"):
                continue
            fn = inspect.getattr_static(cls, name)
            if not inspect.isfunction(fn):
                continue

            if name in _ACTIONS:
                def wrapped(df, *args, __fn=fn, __name=name, **kwargs):
                    layer = df.__dict__.get(_TAG) or "unattributed"
                    if tracer._stack:
                        out = __fn(df, *args, **kwargs)
                    else:
                        out = tracer.span(layer, f"{layer} {__name}", __fn, df, *args, **kwargs)
                    _tag(out, layer)
                    return out
            else:
                def wrapped(df, *args, __fn=fn, **kwargs):
                    out = __fn(df, *args, **kwargs)
                    layer = df.__dict__.get(_TAG)
                    if layer is not None:
                        _tag(out, layer)
                    return out
            self._set(cls, name, functools.wraps(fn)(wrapped))

    def _unpatch(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            if orig is None:
                delattr(owner, name)
            else:
                setattr(owner, name, orig)

    # -- window ----------------------------------------------------------------
    def __enter__(self) -> "Tracer":
        self._patch_dataframe()
        self._patch_catalog()
        self._patch_layers()
        self.sc.setJobGroup(_OUTSIDE_GROUP, _OUTSIDE_GROUP)
        self.t0_ms = int(time.time() * 1000)
        self._last = (time.perf_counter(), self._python_cpu())
        return self

    def __exit__(self, *exc) -> None:
        self._tick()
        self.t1_ms = int(time.time() * 1000)
        self._unpatch()
        self.sc.setLocalProperty("spark.jobGroup.id", None)


# -- event log ------------------------------------------------------------------
def read_event_log(path: str) -> List[dict]:
    """Events of one application: a single log file, or a rolling log
    directory (``eventlog_v2_<app>/events_<n>_<app>``) read in order."""
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    events = []
    for name in files:
        with open(name) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _layer_of_group(group: Optional[str]) -> Optional[str]:
    if group and group.startswith("pb") and ":" in group:
        return group.split(":", 1)[1]
    return None


def _exec_ids(props: dict) -> List[str]:
    return [props[k] for k in ("spark.sql.execution.root.id", "spark.sql.execution.id")
            if props.get(k) is not None]


def layer_table(events: List[dict], t0_ms: int, t1_ms: int,
                self_wall: Dict[str, float], self_python_cpu: Dict[str, float],
                cores: int) -> Tuple[Dict[str, Dict[str, float]], int]:
    """Per-layer Spark counters for the window [t0_ms, t1_ms].

    Returns the table and the window's task total taken from the stages'
    own task counts (StageCompleted), an independent sum of the per-layer
    `tasks`. A job whose group is foreign (broadcast exchanges set their own
    group) takes the layer of the SQL execution it belongs to."""
    exec_layer: Dict[str, str] = {}
    for e in events:
        if e["Event"] in ("SparkListenerJobStart", "SparkListenerStageSubmitted"):
            props = e.get("Properties") or {}
            layer = _layer_of_group(props.get("spark.jobGroup.id"))
            if layer:
                for x in _exec_ids(props):
                    exec_layer.setdefault(x, layer)

    def resolve(props: dict) -> str:
        layer = _layer_of_group(props.get("spark.jobGroup.id"))
        if layer:
            return layer
        for x in _exec_ids(props):
            if x in exec_layer:
                return exec_layer[x]
        return "unattributed"

    table = {layer: defaultdict(float) for layer in LAYERS}
    stage_layer: Dict[int, str] = {}
    total_tasks = 0
    bytes_written = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if t0_ms <= e["Submission Time"] <= t1_ms:
                table[resolve(e.get("Properties") or {})]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            stage_layer[e["Stage Info"]["Stage ID"]] = resolve(e.get("Properties") or {})
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if t0_ms <= info.get("Completion Time", 0) <= t1_ms:
                total_tasks += info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            if not t0_ms <= e["Task Info"]["Finish Time"] <= t1_ms:
                continue
            row = table[stage_layer.get(e["Stage ID"], "unattributed")]
            m = e.get("Task Metrics") or {}
            row["tasks"] += 1
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    out: Dict[str, Dict[str, float]] = {}
    for layer in LAYERS:
        row = table[layer]
        wall = self_wall.get(layer, 0.0)
        row["wall_s"] = wall
        row["python_cpu_s"] = self_python_cpu.get(layer, 0.0)
        row["core_util"] = row["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
        out[layer] = {m: float(row[m]) for m, _ in COMMON_METRICS}
    out["catalog"]["bytes_written"] = float(bytes_written)
    return out, total_tasks
