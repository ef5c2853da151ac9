"""Examples as smoke tests — the reference's CI runs its quick-start
example (``.github/workflows/tests.yml:50-52``); same policy here.
Subprocess isolation: the examples run one after another in a single
child process, so none touches the suite's shared session. Each owns
(and stops) its SparkSession; the child stops any session an example
leaves open, so every example starts on a fresh SparkContext. The
JVM, its JIT and its codegen cache are shared: one JVM start for the
whole file instead of one per example.

The child starts right after collection (``start_background``, called
from ``conftest.py``) and runs beside the rest of the suite; the tests
here only wait for it and read its results."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run order; each example reads its default sf0.001 tables
EXAMPLES = [
    "examples/quick_start.py",
    "examples/data_pipeline.py",
    "examples/curation_pipeline.py",
    "examples/graph_insights.py",
    "examples/tokenizer_and_sketches.py",
    "examples/eval_and_drift.py",
    "examples/forecasting_and_structure.py",
    "examples/experiments_and_communities.py",
]
# wall-clock budget for the whole child, counted from its start (it
# takes ~430 s alone on 4 cores; a hang costs the suite at most this)
TIMEOUT_S = 1200
# the child's JVM heap unless GRAPHEM_DRIVER_MEM is set: the examples
# read the sf0.001 tables, and the suite's own JVM runs at the same time
CHILD_DRIVER_MEM = "2g"

# Child: run each example as __main__ with captured stdout; append one
# JSON line per example to the results file as soon as it finishes, so
# a crash mid-way still reports the earlier ones.
_CHILD = r"""
import contextlib, io, json, runpy, sys, traceback
from pyspark.sql import SparkSession
examples, out_path = json.loads(sys.argv[1]), sys.argv[2]
for script in examples:
    buf = io.StringIO()
    sys.argv = [script]
    err = None
    try:
        with contextlib.redirect_stdout(buf):
            runpy.run_path(script, run_name="__main__")
    except BaseException:
        err = traceback.format_exc()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    with open(out_path, "a") as f:
        f.write(json.dumps({"script": script, "stdout": buf.getvalue(), "error": err}) + "\n")
"""

_child: dict = {}


def start_background() -> None:
    """Launch the examples' child process (once)."""
    if _child:
        return
    work = tempfile.mkdtemp(prefix="graphem-examples-")
    env = dict(os.environ)
    env.setdefault("GRAPHEM_DRIVER_MEM", CHILD_DRIVER_MEM)
    log = open(os.path.join(work, "child.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, json.dumps(EXAMPLES),
         os.path.join(work, "runs.jsonl")],
        stdout=log, stderr=subprocess.STDOUT, cwd=REPO, env=env,
    )
    _child.update(proc=proc, work=work, log=log, t0=time.monotonic())


def stop_background() -> None:
    """Kill the child if it is still running and remove its files."""
    if not _child:
        return
    proc = _child["proc"]
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    _child["log"].close()
    shutil.rmtree(_child["work"], ignore_errors=True)
    _child.clear()


@pytest.fixture(scope="module")
def example_runs():
    start_background()
    proc, work = _child["proc"], _child["work"]
    try:
        proc.wait(timeout=max(0.0, _child["t0"] + TIMEOUT_S - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    _child["log"].flush()
    with open(os.path.join(work, "child.log")) as f:
        log_tail = f.read()[-2000:]
    runs = {}
    out_path = os.path.join(work, "runs.jsonl")
    if os.path.exists(out_path):
        with open(out_path) as f:
            for line in f:
                rec = json.loads(line)
                runs[rec["script"]] = rec
    yield runs, proc.returncode, log_tail
    stop_background()


def _run(example_runs, script: str) -> str:
    runs, returncode, log_tail = example_runs
    assert script in runs, (
        f"{script} did not finish (child exit {returncode}): {log_tail}"
    )
    assert runs[script]["error"] is None, runs[script]["error"][-2000:]
    return runs[script]["stdout"]


def test_quick_start_example(example_runs):
    stdout = _run(example_runs, "examples/quick_start.py")
    assert "seeds:" in stdout
    assert "graphem influence:" in stdout


def test_data_pipeline_example(example_runs):
    stdout = _run(example_runs, "examples/data_pipeline.py")
    assert "minhash near-dup pairs:" in stdout
    assert "pred_lang" in stdout
    assert "ivf-pq approximate neighbors:" in stdout
    assert "principal component 1 eigenvalue" in stdout
    assert "principal component 2 eigenvalue" in stdout


def test_curation_pipeline_example(example_runs):
    stdout = _run(example_runs, "examples/curation_pipeline.py")
    assert "train docs sharing a 4-gram with eval:" in stdout
    assert "chunks:" in stdout
    assert "near-dup clusters resolved to a survivor:" in stdout
    assert "priority sample rel. err" in stdout


def test_graph_insights_example(example_runs):
    stdout = _run(example_runs, "examples/graph_insights.py")
    assert "degree assortativity:" in stdout
    assert "core-number histogram:" in stdout
    assert "strongest part affinities:" in stdout
    assert "components (star contraction):" in stdout
    assert "weighted-layout radial seeds:" in stdout
    assert "label-propagation communities:" in stdout
    assert "4-truss core:" in stdout
    assert "sampled diameter lower bound:" in stdout
    assert "minimum spanning forest:" in stdout
    assert "node2vec most-visited parts:" in stdout


def test_tokenizer_and_sketches_example(example_runs):
    stdout = _run(example_runs, "examples/tokenizer_and_sketches.py")
    assert "BPE merge table:" in stdout
    assert "90% effective diameter" in stdout
    assert "top load-centrality vertex:" in stdout


def test_eval_and_drift_example(example_runs):
    stdout = _run(example_runs, "examples/eval_and_drift.py")
    assert "JL retrieval MRR@10:" in stdout
    assert "two-gate Cohen's kappa:" in stdout
    assert "conformal gate: tau=" in stdout
    assert "value drift: PSI=" in stdout
    assert "Markov stationary distribution:" in stdout
    assert "k-center coreset" in stdout
    assert "boilerplate segments dropped:" in stdout
    assert "A/B readout: naive=" in stdout
    assert "k-anonymity: min class" in stdout
    assert "skipping[date_clustered]:" in stdout


def test_forecasting_and_structure_example(example_runs):
    stdout = _run(example_runs, "examples/forecasting_and_structure.py")
    assert "hourly ACF:" in stdout
    assert "Holt-Winters next-7-day forecasts:" in stdout
    assert "Kaplan-Meier: survival at the median gap" in stdout
    assert "optimal-partitioning segments:" in stdout
    assert "Louvain Q trajectory" in stdout
    assert "two-level k-center" in stdout
    assert "CCNet tiers per lang (histogram mode):" in stdout


def test_experiments_and_communities_example(example_runs):
    stdout = _run(example_runs, "examples/experiments_and_communities.py")
    assert "SRM guardrail: chi2=" in stdout
    assert "CUPED: naive=" in stdout
    assert "RAKE top-5:" in stdout
    assert "refined Louvain" in stdout
    assert "Girvan-Newman trajectory:" in stdout
    assert "never silent" in stdout
