"""Tests of the benchmark itself, on small inputs in one Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import tempfile

import pytest

from cadastral_map_ocr_system_spark.plans.pipeline import extract
from perfbench import run as bench
from perfbench.trace import Tracer
from perfbench.workloads import DedupCorpus, ExtractMixed, Run

N_DOCS = 150
LAYERS = ["sources.scan_s", "pipeline.explode_spread_s", "mediapath.stage_s",
          "text.strip_s", "rezip.s"]
# the N_DOCS documents of this seed hold skew documents, so every
# media family (and its per-family metric) is present
ALL_FAMILIES_SEED = 7
# counts that depend only on the generated inputs and the plans
COUNTS = ["pipeline.spans", "mediapath.payloads", "mediapath.records_out",
          "sources.checkpoint.commit_groups", "spark.jobs"]


@pytest.fixture(scope="module")
def workload():
    """workload(workload class, seed) -> the workload over N_DOCS
    generated documents, in a Spark session shared by the module. The
    process environment is restored and Spark stopped on teardown."""
    saved_env, saved_tempdir = dict(os.environ), tempfile.tempdir
    work = os.path.join(bench.HERE, ".work", f"tests-{os.getpid()}")
    bench._prepare_env(work)
    spark = bench._start_spark(work, len(os.sched_getaffinity(0)))
    n = itertools.count()

    def make(cls, seed: int):
        run = Run(spark, seed, os.path.join(work, f"run{next(n)}"),
                  os.path.join(work, "out"), seconds=0, tracer=Tracer())
        os.makedirs(run.work)
        wl = cls(run)
        wl.n_docs = N_DOCS
        wl.generate()
        return wl

    try:
        yield make
    finally:
        bench._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tempdir


@pytest.fixture(scope="module")
def traced(workload):
    """traced(workload class, seed, repeat=0) -> per-layer values of a
    traced run, plus `op_s`, the traced operation's wall time; a new
    `repeat` runs it again."""
    done: dict = {}

    def run_traced(cls, seed: int, repeat: int = 0) -> dict:
        key = (cls, seed, repeat)
        if key not in done:
            wl = workload(cls, seed)
            values, counts = bench._traced(wl, wl.run, wl.run.tracer)
            assert counts["failed"] == 0
            values["op_s"] = next(s["end"] - s["start"] for s in wl.run.tracer.spans
                                  if s["name"] == "op")
            done[key] = values
        return done[key]

    return run_traced


def test_counts_repeat_for_same_seed(traced):
    a = traced(ExtractMixed, ALL_FAMILIES_SEED)
    b = traced(ExtractMixed, ALL_FAMILIES_SEED, repeat=1)
    assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}


def test_counts_change_with_seed(traced):
    a, b = traced(ExtractMixed, ALL_FAMILIES_SEED), traced(ExtractMixed, 6)
    # spark.jobs and commit_groups follow the plans, not the data; the
    # data counts must all move
    for k in ["pipeline.spans", "mediapath.payloads", "mediapath.records_out"]:
        assert a[k] != b[k], k


def _optimized_plan(df) -> str:
    # expression ids and lambda variable suffixes differ between two
    # builds of the same plan
    return re.sub(r"(?:_\d+)?#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_last_prefix_is_the_extract_plan(workload):
    wl = workload(ExtractMixed, 5)
    assert _optimized_plan(wl.full_plan()) == _optimized_plan(extract(wl.docs()))


def test_prefix_layers_add_up_to_the_pipeline(traced):
    v = traced(ExtractMixed, 6)
    total = sum(v[k] for k in LAYERS)
    # each prefix really extends the one before it: no layer is
    # negative beyond timing noise
    for k in LAYERS:
        assert v[k] > -0.25 * total, k
    # the layers account for the directly timed extract() operation
    assert 0.5 < total / v["op_s"] < 2.0


def test_declared_metrics_are_emitted_or_not_applicable(traced):
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    for cls in (ExtractMixed, DedupCorpus):
        emitted = set(traced(cls, ALL_FAMILIES_SEED)) - {"op_s"}
        assert emitted.isdisjoint(cls.not_applicable), cls.name
        assert emitted | set(cls.not_applicable) == declared, cls.name
