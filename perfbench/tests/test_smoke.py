"""Smoke tests of the benchmark itself at a tiny input size.

    python3 -m pytest perfbench/tests -q

They pin the result schema and the metric names against BENCHMARK.json,
and show that a corrupted program output is counted as failed.  Each
subprocess starts its own Spark session, so the module takes a few
minutes.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run, work  # noqa: E402

TINY = {"extract": 200, "layout": 400, "curate": 300}


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload, trace, seed=3):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", str(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_lists_the_metrics_run_py_reports():
    b = bench_json()
    assert [w["name"] for w in b["workloads"]] == list(
        work.BENCHMARK_WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", list(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_result_schema(workload, trace):
    res = run_bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert res["correct"] is (res["failed"] == 0)
    if workload in work.BENCHMARK_WORKLOADS:
        assert res["failed"] == 0
    layers = {**run.PER_LAYER, **work.WORKLOADS[workload][0].LAYERS}
    want = layers if trace else run.E2E
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float), k
        if not trace:
            assert v["value"] > 0, k


def test_corrupted_extraction_output_counts_as_failed(monkeypatch, capsys):
    """One page's extracted text gains a character: exactly that page fails
    in every checked operation."""
    from pyspark.sql import functions as F

    import layout_parser_spark.plans.extract as extract

    real = extract.extract_main_text

    def corrupted(pages, **kw):
        out = real(pages, **kw)
        first = out.agg(F.min("url")).collect()[0][0]
        return out.withColumn(
            "extracted_text",
            F.when(F.col("url") == first,
                   F.concat("extracted_text", F.lit("x")))
            .otherwise(F.col("extracted_text")))

    monkeypatch.setattr(extract, "extract_main_text", corrupted)
    rc = run.main(["--workload", "extract", "--seed", "3", "--seconds", "1",
                   "--size", str(TINY["extract"])])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["correct"] is False
    ops = res["attempted"] // TINY["extract"]
    assert res["failed"] == ops >= 2


def test_wrong_cluster_id_counts_as_failed():
    """The curate check compares cluster ids with a union-find over the
    pairs; one wrong id is one failed operation."""
    wl = work.Curate.__new__(work.Curate)
    wl.outcome = work.Outcome()
    wl.truth = {"n_input": 3, "url_keep": 3, "exact_keep": 3}
    wl.reference = work.union_find_labels(["a", "b", "c"], [("b", "c")])
    row = dict(url_keep=True, exact_keep=True, quality_keep=True, keep=True)
    rows = [
        dict(row, url="a", cluster_id="a", cluster_keep=True),
        dict(row, url="b", cluster_id="b", cluster_keep=True),
        dict(row, url="c", cluster_id="c", cluster_keep=True),  # wrong: b
    ]
    stats = {"n_input": 3, "url_keep": 3, "exact_keep": 3,
             "cluster_keep": 3, "quality_keep": 3, "keep": 3}
    wl.check((pa.Table.from_pylist(rows), stats))
    assert (wl.outcome.attempted, wl.outcome.failed) == (7, 1)


def test_wrong_layout_result_counts_as_failed():
    """Each layout query's result is compared with its oracle's; one wrong
    value fails that query only."""
    wl = work.Layout.__new__(work.Layout)
    wl.outcome = work.Outcome()
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    wl.expected = {"a": work._normalize(good), "b": work._normalize(good)}
    wl.check({"a": good.iloc[::-1], "b": good.assign(v=[0.5, 1.0])})
    assert (wl.outcome.attempted, wl.outcome.failed) == (2, 1)


def test_union_find_joins_a_chain_the_engine_mislabels():
    """The 7-edge graph on which the engine's connected components stops
    early: the reference labels every node with the component minimum."""
    edges = [(7, 39), (7, 49), (32, 49), (36, 39), (36, 45), (45, 46),
             (46, 58)]
    nodes = sorted({n for e in edges for n in e})
    assert set(work.union_find_labels(nodes, edges).values()) == {7}


def test_stratified_inputs_keep_their_size_across_seeds():
    from perfbench import gen

    a = [sorted(len(t.split()) for t in f) for f in gen.page_texts(1, 500)]
    b = [sorted(len(t.split()) for t in f) for f in gen.page_texts(2, 500)]
    assert a == b  # every file holds the same lengths whatever the seed
    assert gen.page_texts(1, 50) == gen.page_texts(1, 50)
    rows, truth = gen.corpus_rows(5, 400)
    assert len(rows) == truth["n_input"] == 400
    assert len({r[2] for r in rows}) == truth["exact_keep"]
