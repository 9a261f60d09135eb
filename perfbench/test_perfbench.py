"""The benchmark's own tests: the oracles reject perturbed results, XXH64
matches Spark, and a tiny run of each workload emits every metric.

    python3 -m pytest perfbench/test_perfbench.py -q

The tiny runs start one Spark session each (about a minute apiece); the
oracle tests need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
from spans import Recorder, busy_seconds, Task  # noqa: E402
from xxh64 import spark_xxhash64  # noqa: E402


OPS = {"powerlaw": 3, "codegraph": 4, "corpus": 2}  # ops per workload


def failed_count(outputs: dict) -> int:
    """ops_failed of a Runner whose ops return ``outputs`` and check them."""
    runner = run.Runner(Recorder())
    for name, (value, check) in outputs.items():
        runner.op(name, lambda v=value: v, lambda r: [], check=check)
    runner.run_checks()
    return len(runner.failed)


@pytest.fixture(scope="module")
def graph():
    t = inputs._powerlaw(5, inputs.SIZES["powerlaw"]["tiny"])["edges"]
    src, dst = t["src"].to_numpy(), t["dst"].to_numpy()
    return oracles.SymGraph(src, dst)


def graph_outputs(g):
    pr, _ = oracles.pagerank(g, "convergence")
    cc = oracles.hash_min(g)
    return {
        "pagerank": (pd.DataFrame({"id": g.ids, "value": pr}), lambda df: oracles.check_values(
            g, df, "value", pr, atol=oracles.PAGERANK_ATOL)),
        "cc": (pd.DataFrame({"id": g.ids, "component": cc}), lambda df: oracles.check_values(
            g, df, "component", cc)),
    }


def test_pagerank_shift_fails_exactly_one_op(graph):
    outs = graph_outputs(graph)
    assert failed_count(outs) == 0
    df, check = outs["pagerank"]
    bad = df.copy()
    bad.loc[7, "value"] += 1e-5
    outs["pagerank"] = (bad, check)
    assert failed_count(outs) == 1


def test_component_label_change_fails_exactly_one_op(graph):
    outs = graph_outputs(graph)
    df, check = outs["cc"]
    bad = df.copy()
    bad.loc[3, "component"] = bad["component"].max() + 1
    outs["cc"] = (bad, check)
    assert failed_count(outs) == 1


def test_false_near_dup_pair_fails_exactly_one_op():
    t = inputs._corpus(5, inputs.SIZES["corpus"]["tiny"])["documents"]
    ids, texts = t["doc_id"].to_numpy(), t["text"].to_pylist()
    truth = oracles.jaccard_pairs(ids, texts, 0.5)
    sets = dict(zip(ids.tolist(), oracles.shingle_sets(texts)))

    def check(df):
        return oracles.check_pairs(
            df, "jaccard", truth,
            lambda a, b: round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6),
            lambda v: v >= 0.5, "minhash")[0]

    good = pd.DataFrame(
        [(a, b, v) for (a, b), v in sorted(truth.items())], columns=["a", "b", "jaccard"]
    )
    assert len(good) > 0
    assert failed_count({"minhash": (good, check)}) == 0
    a, b = next((a, b) for a in ids for b in ids if a < b and (a, b) not in truth)
    bad = pd.concat([good, pd.DataFrame([(a, b, 0.9)], columns=good.columns)])
    assert failed_count({"minhash": (bad, check)}) == 1
    honest = pd.concat([good, pd.DataFrame(
        [(a, b, round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6))], columns=good.columns)])
    assert failed_count({"minhash": (honest, check)}) == 1


def test_missing_pairs_fail_the_recall_floor():
    truth = {(0, 1): 0.9, (2, 3): 0.9}
    got = pd.DataFrame([(0, 1, 0.9)], columns=["a", "b", "cosine"])
    reason, recall = oracles.check_pairs(got, "cosine", truth, lambda a, b: 0.9,
                                         lambda v: v >= 0.4, "embed_lsh")
    assert recall == 0.5 and reason


def test_oracles_agree_with_tests_oracles(graph):
    from tests.oracles import components_oracle, pagerank_oracle

    pairs = list(zip(graph.ids[graph.src[: len(graph.src) // 2]].tolist(),
                     graph.ids[graph.dst[: len(graph.dst) // 2]].tolist()))
    ref = pagerank_oracle(pairs, iterations=10)
    mine, _ = oracles.pagerank(graph, "reference", iterations=10)
    assert np.allclose([ref[v] for v in graph.ids.tolist()], mine, rtol=0, atol=1e-12)
    ref_cc = components_oracle(pairs)
    assert [ref_cc[v] for v in graph.ids.tolist()] == oracles.hash_min(graph).tolist()


def test_xxh64_known_values():
    # values from Spark's xxhash64 for the same strings
    assert spark_xxhash64("") == -7444071767201028348
    assert spark_xxhash64("a") == -8582455328737087284


def test_busy_seconds_merges_overlaps():
    tasks = [Task(None, 0.0, 2.0, 0, 0, 0, 0), Task(None, 1.0, 3.0, 0, 0, 0, 0),
             Task(None, 5.0, 6.0, 0, 0, 0, 0)]
    assert busy_seconds(tasks, 0.5, 5.5) == pytest.approx(3.0)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "30", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] == OPS[workload]
    want = dict(run.PER_LAYER if trace else run.END_TO_END)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace:
        assert "tracing overhead:" in proc.stdout


def test_manifest_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in manifest["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in manifest["per_layer"]] == run.PER_LAYER
