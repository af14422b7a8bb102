"""KG-build benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload code_build --seed 1 --seconds 1 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``code_build``: ``BuildPipeline.run`` over the closed-vocabulary code
  corpus, on a fresh session, into a fresh parquet ``TableCatalog``.
- ``incremental_delta``: set-up builds a base catalog from the same corpus;
  each timed call restores a copy of it and runs
  ``IncrementalUpdatePipeline.run_once`` over the corpus after a seeded delta.

Every timed call is checked against the pure-Python oracle: the ``edges``
triple set must equal ``build_reference_graph`` on the same corpus (for
``incremental_delta``, on the post-delta corpus, so an incremental run must
equal a full rebuild).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` repeats the same
sequence with the timed call traced (perfbench/trace.py) and prints the
per-layer table and the tracing overhead. The last stdout line is one JSON
object.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("code_build", "incremental_delta")
# Corpus size: a full benchmark pass is 48 runs in 3420 s on a 4-core host,
# and a cold build costs about 40 s at any size up to here, because most of
# it is per-stage overhead (which is what a faster build has to remove first).
CODE_DOCS = 400
HEAP_CAP_MB = 4096
CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"
DEADLINE_S = 170


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="keep starting timed calls until this much time has passed (at least one)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Deadline(BaseException):
    """Raised by SIGALRM; a BaseException so that no per-call handler
    catches it and the run ends without printing a result."""


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    """One invocation: session, inputs, timed calls, checks, teardown."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.spark = None
        self.jvm = None

    # -- session -------------------------------------------------------------
    def start_session(self) -> None:
        from graph_rag_agent_spark.session import get_spark
        from perfbench import procfs

        self.cores = len(os.sched_getaffinity(0))
        self.mem_total_mb = procfs.mem_total_mb()
        self.heap_mb = min(self.mem_total_mb // 2, HEAP_CAP_MB)
        self.master = f"local[{self.cores}]"
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            (self.work / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "events").as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=conf)
        self.jvm = self.spark.sparkContext._gateway.proc

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, then wait for every process it started."""
        from perfbench import procfs

        if self.spark is None:
            return
        from pyspark import SparkContext

        descendants = procfs.descendants(self.jvm.pid)
        self.spark.stop()
        self.spark = None
        SparkContext._gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(timeout=30)
        deadline = time.monotonic() + 30
        while descendants and time.monotonic() < deadline:
            descendants = [p for p in descendants if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in descendants:
            os.kill(p, signal.SIGKILL)

    # -- inputs ----------------------------------------------------------------
    def make_inputs(self) -> None:
        from graph_rag_agent_spark.sources.corpus import generate_corpus_pdf
        from perfbench.inputs import apply_delta

        self.base_pdf = generate_corpus_pdf(CODE_DOCS, seed=self.args.seed)
        self.target_pdf = self.base_pdf
        if self.args.workload == "incremental_delta":
            self.target_pdf = apply_delta(self.base_pdf, seed=self.args.seed)
            old = dict(zip(zip(self.base_pdf.repo, self.base_pdf.path), self.base_pdf.content))
            new = dict(zip(zip(self.target_pdf.repo, self.target_pdf.path), self.target_pdf.content))
            self.changed_docs = [k for k, v in new.items() if old.get(k) != v]
            self.expected_stats = {
                "added": len(new.keys() - old.keys()),
                "deleted": len(old.keys() - new.keys()),
                "modified": sum(1 for k, v in new.items() if k in old and old[k] != v),
            }

    def frame(self, pdf):
        return self.spark.createDataFrame(pdf, schema=CORPUS_SCHEMA)

    # -- the timed call ------------------------------------------------------------
    def setup(self) -> None:
        from graph_rag_agent_spark.plans.build import BuildPipeline
        from graph_rag_agent_spark.sources.catalog import TableCatalog

        self.make_inputs()
        self.start_session()
        self.target_df = self.frame(self.target_pdf)
        self.base_dir = None
        if self.args.workload == "incremental_delta":
            self.base_dir = self.work / "base"
            BuildPipeline(self.spark, TableCatalog(self.spark, str(self.base_dir))).run(
                self.frame(self.base_pdf))

    def call(self, k: int, tracer=None) -> dict:
        """One timed pipeline call into a fresh catalog; returns its time,
        its canonical triple set (read after the clock stops) and its stats."""
        from graph_rag_agent_spark.plans.build import BuildPipeline
        from graph_rag_agent_spark.plans.incremental_update import IncrementalUpdatePipeline
        from graph_rag_agent_spark.sources.catalog import TableCatalog

        cat_dir = self.work / f"call{k}"
        if self.base_dir is not None:
            shutil.copytree(self.base_dir, cat_dir)
        cat = TableCatalog(self.spark, str(cat_dir))
        if self.base_dir is None:
            run = functools.partial(BuildPipeline(self.spark, cat).run, self.target_df)
        else:
            run = functools.partial(
                IncrementalUpdatePipeline(self.spark, cat).run_once, self.target_df)
        out = {"cat": cat, "error": None}
        t0 = time.perf_counter()
        try:
            with tracer or contextlib.nullcontext():
                out["stats"] = run()
        except Exception:  # a failing call is counted, not fatal
            out["error"] = traceback.format_exc()
            _log(out["error"])
        out["seconds"] = time.perf_counter() - t0
        if out["error"] is None:
            out["triples"] = {
                (r.subj, r.pred, r.obj)
                for r in cat.read("edges").select("subj", "pred", "obj").collect()
            }
        return out

    def check(self, calls) -> int:
        """Oracle gate, computed once: returns how many calls failed it."""
        from graph_rag_agent_spark.oracle.reference_builder import build_reference_graph

        want = build_reference_graph(self.target_pdf).triples
        failed = 0
        for c in calls:
            ok = c["error"] is None and c["triples"] == want
            if ok and self.base_dir is not None:
                ok = self.delta_counts_match(c["stats"])
            if c["error"] is None:
                got = c["triples"]
                inter = len(got & want)
                _log(f"oracle: P={inter / max(len(got), 1):.4f} "
                     f"R={inter / max(len(want), 1):.4f} edges={len(got)} want={len(want)}")
            failed += not ok
        return failed

    def delta_counts_match(self, stats) -> bool:
        ok = all(stats.get(k) == v for k, v in self.expected_stats.items())
        if not ok:
            _log(f"delta stats {stats} != expected {self.expected_stats}")
        return ok

    def timed_calls(self):
        calls, k = [], 0
        t_end = time.perf_counter() + self.args.seconds
        while True:
            calls.append(self.call(k))
            k += 1
            if time.perf_counter() >= t_end:
                return calls


def _result(correct, attempted, failed, metrics) -> str:
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def run_untraced(b: Bench, t_start: float) -> str:
    from perfbench import procfs

    b.setup()
    setup_s = time.perf_counter() - t_start
    steal0 = procfs.steal_s()
    with procfs.PeakRss(b.jvm.pid) as rss:
        calls = b.timed_calls()
    steal = procfs.steal_s() - steal0
    failed = b.check(calls)
    secs = [c["seconds"] for c in calls]
    tps = [len(c.get("triples", ())) / c["seconds"] for c in calls]
    op = "build_s" if b.base_dir is None else "delta_apply_s"
    metrics = {
        "pipeline_s": (statistics.median(secs), "s"),
        "triples_per_s": (statistics.median(tps), "triples/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MiB"),
    }
    b.stop_session()
    print(f"session: master={b.master} driver_heap_mb={b.heap_mb} "
          f"mem_total_mb={b.mem_total_mb}")
    print(f"{b.args.workload} seed={b.args.seed}: {op}={metrics['pipeline_s'][0]:.3f} s "
          f"triples_per_s={metrics['triples_per_s'][0]:.1f} triples/s "
          f"setup_s={setup_s:.3f} s peak_rss_mb={metrics['peak_rss_mb'][0]:.1f} MiB "
          f"failed_frac={failed / len(calls):.3f} ({failed}/{len(calls)} calls) "
          f"host_steal_s={steal:.2f}")
    return _result(failed == 0, len(calls), failed, metrics)


def run_traced(b: Bench) -> str:
    """The untraced run's sequence with its one timed call traced."""
    from perfbench import trace

    b.setup()
    tracer = trace.Tracer(b.spark, b.jvm.pid)
    call = b.call(0, tracer)
    if call["error"] is None:
        counts = layer_counts(b, call, tracer)
    else:
        counts = {n: 0.0 for n, _ in trace.LAYER_COUNTS if n != "catalog.bytes_written"}
    failed = b.check([call])
    b.stop_session()
    (log,) = list((b.work / "events").iterdir())
    events = trace.read_event_log(str(log))
    table, total_tasks = trace.layer_table(
        events, tracer.t0_ms, tracer.t1_ms, tracer.self_wall, tracer.self_python_cpu, b.cores)
    metrics = {f"{layer}.{m}": v for layer, row in table.items() for m, v in row.items()}
    metrics.update(counts)
    metrics["tracing.overhead_s"] = tracer.bookkeeping_s
    names = trace.per_layer_names()
    missing = [n for n, _ in names if n not in metrics]
    if missing:
        raise RuntimeError(f"per-layer metrics missing: {missing}")
    print(f"session: master={b.master} driver_heap_mb={b.heap_mb} "
          f"mem_total_mb={b.mem_total_mb}")
    print(f"traced call {call['seconds']:.3f} s, tracing overhead "
          f"{tracer.bookkeeping_s:.3f} s, event-log tasks {total_tasks}, per-layer tasks "
          f"{sum(r['tasks'] for r in table.values()):.0f}")
    cols = [m for m, _ in trace.COMMON_METRICS]
    print(" ".join(f"{h:>14}" for h in ["layer"] + cols))
    for layer, row in table.items():
        print(" ".join([f"{layer:>14}"] + [f"{row[m]:>14.3f}" for m in cols]))
    for name, v in counts.items():
        print(f"{name} = {v}")
    print("slowest spans (self time):")
    for what, sec in sorted(tracer.span_wall.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {sec:8.3f} s  {what}")
    return _result(failed == 0, 1, failed, {n: (metrics[n], u) for n, u in names})


def layer_counts(b: Bench, call: dict, tracer) -> dict:
    """Layer-specific counts of the traced call, read back from its catalog
    after the clock stopped."""
    from pyspark.sql import functions as F

    from graph_rag_agent_spark.operators.communities import weighted_projection
    from graph_rag_agent_spark.sources.catalog import TableCatalog

    cat = call["cat"]
    base = TableCatalog(b.spark, str(b.base_dir)) if b.base_dir is not None else None
    chunk_ids = cat.read("chunks")
    if base is not None:
        docs = b.spark.createDataFrame(b.changed_docs, "repo string, path string")
        chunk_ids = chunk_ids.join(docs, ["repo", "path"], "left_semi")
    chunk_ids = chunk_ids.select("chunk_id").distinct()
    looked_up = chunk_ids.count()
    misses = looked_up
    if base is not None:
        cached = base.read("extraction_cache").select(F.col("chunk_sha1").alias("chunk_id"))
        misses = chunk_ids.join(cached, "chunk_id", "left_anti").count()

    def fresh(table, keys):
        rows = cat.read(table)
        if base is not None:
            rows = rows.join(base.read(table).select(*keys), keys, "left_anti")
        return rows

    ents = fresh("entity_embeddings", ["entity_id", "text_sha"])
    chunks = fresh("chunk_embeddings", ["chunk_id", "embed_version"])
    entities_in = cat.read("nodes_raw").count()
    return {
        "extraction.extractor_rows": float(misses),
        "extraction.cache_hit_frac": (looked_up - misses) / looked_up if looked_up else 0.0,
        "embeddings.entity_rows": float(ents.count()),
        "embeddings.chunk_rows": float(chunks.count()),
        "embeddings.failed_rows": float(
            ents.filter("embed_failed").count() + chunks.filter("embed_failed").count()),
        "canonicalize.entities_in": float(entities_in),
        "canonicalize.similar_pairs": float(tracer.returns["canonicalize"].similar.count()),
        "canonicalize.entities_merged": float(entities_in - cat.read("nodes").count()),
        "communities.projected_edges": float(weighted_projection(cat.read("edges")).count()),
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    if not (ROOT / "graph_rag_agent_spark" / "__init__.py").is_file():
        _log(f"program source not found under {ROOT}")
        return 2
    # import the program and this package from the checkout root, not from
    # the script's directory (whose module names could shadow others)
    sys.path[0] = str(ROOT)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Spark, the JVM and Python workers write scratch files only under `work`
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work / 'tmp'}"])),
    })

    def on_deadline(*_):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    b = Bench(args, work)
    try:
        line = run_traced(b) if args.trace else run_untraced(b, t_start)
    finally:
        signal.alarm(0)
        try:
            b.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()  # only if no other run is using it
            except OSError:
                pass
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
