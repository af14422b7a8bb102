"""Tests of the benchmark itself: seeded inputs, the refusal to run without
the program, and the per-layer accounting of a traced run.

Run from the repo root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

from graph_rag_agent_spark.oracle.reference_builder import build_reference_graph
from graph_rag_agent_spark.sources.corpus import generate_corpus_pdf
from perfbench import inputs, trace
from perfbench.run import CODE_DOCS

ROOT = Path(__file__).resolve().parents[1]


def _digest(pdf) -> str:
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def test_same_seed_gives_byte_identical_corpus_and_delta():
    a = generate_corpus_pdf(CODE_DOCS, seed=7)
    b = generate_corpus_pdf(CODE_DOCS, seed=7)
    assert _digest(a) == _digest(b)
    assert _digest(inputs.apply_delta(a, seed=7)) == _digest(inputs.apply_delta(b, seed=7))


def test_different_seed_gives_different_corpus_and_delta():
    a = generate_corpus_pdf(CODE_DOCS, seed=7)
    b = generate_corpus_pdf(CODE_DOCS, seed=8)
    assert _digest(a) != _digest(b)
    assert _digest(inputs.apply_delta(a, seed=7)) != _digest(inputs.apply_delta(a, seed=8))


def test_delta_shape_and_graph_change():
    base = generate_corpus_pdf(200, seed=3)
    after = inputs.apply_delta(base, seed=3)
    old = dict(zip(zip(base.repo, base.path), base.content))
    new = dict(zip(zip(after.repo, after.path), after.content))
    n = len(base)
    assert len(new.keys() - old.keys()) == round(n * inputs.ADDED)
    assert len(old.keys() - new.keys()) == round(n * inputs.DELETED)
    modified = [k for k in new if k in old and new[k] != old[k]]
    assert len(modified) == round(n * inputs.MODIFIED)
    assert all(new[k].startswith(old[k]) and "\nclass " in new[k][len(old[k]):] for k in modified)
    largest = max(old, key=lambda k: len(old[k]))
    assert new[largest] == old[largest]
    # the delta adds classes and removes files, so the graph gains and loses triples
    t_old = build_reference_graph(base).triples
    t_new = build_reference_graph(after).triples
    assert t_new - t_old and t_old - t_new


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "code_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_traced_run_accounts_for_every_task():
    """A traced code_build run prints every per-layer metric, and the
    per-layer task counts add up to the event log's own stage totals."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "code_build", "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert list(metrics) == [name for name, _ in trace.per_layer_names()]
    assert len(metrics) == 121
    layer_tasks = sum(metrics[f"{layer}.tasks"]["value"] for layer in trace.LAYERS)
    (summary,) = [line for line in lines if line.startswith("traced call")]
    event_log_tasks = int(summary.split("event-log tasks ")[1].split(",")[0])
    assert event_log_tasks > 0
    assert layer_tasks == event_log_tasks
    # BuildPipeline runs every job inside a layer call or a catalog write
    assert metrics["unattributed.jobs"]["value"] == 0
    assert metrics["tracing.overhead_s"]["value"] >= 0
