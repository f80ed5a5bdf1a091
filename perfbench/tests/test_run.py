"""The runner end to end: it refuses to run without the engine, and both
workloads run, check their outputs and report every metric on tiny inputs
(the Spark tests are marked slow: run them with ``-m ""``)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import harness, layers, vectors

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_exits_nonzero_without_printing_a_result_when_the_engine_is_absent(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
    assert "cannot import the engine" in p.stderr


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from opengauss_vectordb_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.sql.warehouse.dir": str(wh),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _ctx(spark, tmp_path, seed, workload):
    from perfbench.run import Context
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    ctx = Context(seed, str(tmp_path), np.random.default_rng(seed), tracer, spark)
    ctx.loop = harness.Loop(workload, tracer)
    return ctx


@pytest.mark.slow
def test_analytics_mix_runs_checks_and_reports_every_layer_metric(spark, tmp_path):
    from perfbench import analytics
    from perfbench.analytics import AnalyticsMix

    ctx = _ctx(spark, tmp_path, 1, "analytics_mix")
    w = AnalyticsMix(ctx, sf=0.001)
    w.queries = w.queries[:2]
    w.order = w.queries
    w.checked = [0, 1]
    w.generate()
    w.setup()
    w.step()
    w.check()
    assert [o.kind for o in ctx.loop.ops] == w.order * analytics.PASSES
    assert not ctx.loop.failed
    metrics = layers.collect(ctx, w, 1.0, 2, 1.0, 1.0)
    assert set(metrics) == set(layers.UNITS)
    assert metrics["registry.build_s"] > 0 and metrics["spark.jobs"] > 0


@pytest.mark.slow
def test_vector_ingest_runs_checks_and_flags_a_wrong_result(spark, tmp_path):
    ctx = _ctx(spark, tmp_path, 2, "vector_ingest")
    scale = vectors.Scale(base=300, lists=2, flat=2_000, batch=20, vacuum=5,
                          rounds=2, queries=16, join_queries=2)
    w = vectors.VectorIngest(ctx, scale)
    w.generate()
    w.setup()
    w.step()
    kinds = [o.kind for o in ctx.loop.ops]
    assert kinds[:3] == ["ivf_append", "hnsw_append", "table_insert"]
    assert {"exact_knn_join", "ivf_knn_join", "table_delete"} <= set(kinds)
    w.XF = w.XF[::-1].copy()  # numpy now disagrees with every exact result
    w.check()
    wrong = {o.kind for o in ctx.loop.failed}
    assert wrong == {"exact_knn", "exact_knn_join"}, ctx.loop.failed
    metrics = layers.collect(ctx, w, 1.0, 2, 1.0, 1.0)
    assert set(metrics) == set(layers.UNITS)
    assert metrics["ivf.recall_at_10"] >= vectors.IVF_RECALL_FLOOR
    assert metrics["hnsw.recall_at_10"] >= vectors.HNSW_RECALL_FLOOR
