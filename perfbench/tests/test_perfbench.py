"""Tests of the benchmark harness itself: generator determinism, metric
names against BENCHMARK.json, clean tiny runs of every workload, the
traced match path against fuzzy_match_pairs, and the refusal to run
without the engine.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import metrics  # noqa: E402

TINY = {
    "catalog_match": {"n_a": 150, "n_b": 150},
    "incremental_serve": {"stored": 600, "clusters": 12, "batch": 30, "batches": 4},
}


def _digests(path: str) -> dict[str, str]:
    return {
        os.path.basename(f): hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(os.path.join(path, "*.parquet")))
    }


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_byte_deterministic_per_seed(workload, tmp_path):
    make = gen.GENERATORS[workload]
    a = make(7, str(tmp_path / "a"), **TINY[workload])
    b = make(7, str(tmp_path / "b"), **TINY[workload])
    c = make(8, str(tmp_path / "c"), **TINY[workload])
    da, db, dc = _digests(a.data_dir), _digests(b.data_dir), _digests(c.data_dir)
    assert da and da == db
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)
    assert a.params == b.params


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(gen.GENERATORS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    saved = dict(os.environ)
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    conf = run.pin_environment(tmp, len(os.sched_getaffinity(0)))
    from fuzzy_item_matching_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests", extra_conf=conf)
    yield session, tmp
    run.stop_spark(session)
    os.environ.clear()
    os.environ.update(saved)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_workload_runs_clean_at_tiny_size(workload, spark):
    from tracing import Tracer
    from workloads import WORKLOADS

    session, tmp = spark
    data = gen.GENERATORS[workload](3, os.path.join(tmp, workload, "data"), **TINY[workload])
    wl = WORKLOADS[workload](data, os.path.join(tmp, workload))
    wl.setup(session)
    traced = Tracer(session, True, "test")
    for tr in (Tracer(session, False, "test"), traced):
        tr.unit = wl.units
        with tr.span("unit"):
            out = wl.run_unit(session, tr)
        assert wl.check(session, out) == []
        wl.after_unit(session)
    assert wl.final_errors() == []
    q = wl.quality()
    assert 0 < q["recall"] <= 1 and 0 < q["precision"] <= 1

    spans = traced.finish()
    root = [s for s in spans if s["name"] == "unit"]
    assert len(root) == 1
    assert all(s["parent"] == root[0]["id"] for s in spans if s is not root[0])
    assert sum(s["jobs"] for s in spans) > 0
    layer = metrics.unit_layer_metrics(spans, 2)
    assert set(layer) | set(metrics.RUN_LEVEL) == set(metrics.PER_LAYER)
    assert layer["tables.scan.jobs"] > 0


def test_traced_match_path_gives_fuzzy_match_pairs_output(spark):
    """The traced catalog_match run calls fuzzy_match_pairs as its parts;
    its pairs must be the operator's own."""
    from fuzzy_item_matching_spark.operators.similarity import fuzzy_match_pairs
    from fuzzy_item_matching_spark.tables import load_table
    from tracing import Tracer
    from workloads import CatalogMatch, traced_fuzzy_match_pairs

    session, tmp = spark
    data = gen.GENERATORS["catalog_match"](5, os.path.join(tmp, "parts"), **TINY["catalog_match"])
    a = load_table(session, data.data_dir, "catalog_a")
    b = load_table(session, data.data_dir, "catalog_b")
    min_sim = CatalogMatch.MIN_SIM

    def pairs(df):
        return {(r.id_a, r.id_b): r.cosine for r in df.collect()}

    want = pairs(fuzzy_match_pairs(a, b, "id", "name", min_sim=min_sim))
    got = pairs(traced_fuzzy_match_pairs(Tracer(session, True, "test"), a, b, "id", "name", min_sim))
    session.catalog.clearCache()
    assert want and got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 1e-9 for k in want)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_match", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
