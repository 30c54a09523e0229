"""Tiny-size smoke test of the benchmark harness.

Runs each workload once at a few hundred documents, traced, and checks that
every metric named in BENCHMARK.json is produced with its unit, that the
results are correct, and that a deliberately corrupted result is counted as
a failed operation.  Needs Spark; takes about two minutes on four cores:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run as bench  # noqa: E402
from inputs import Spec  # noqa: E402

TINY = {
    "interactive_small": Spec(n_docs=300, shard_range=1 << 20,
                              batch_size=10),
    "ingest_upsert": Spec(n_docs=300, shard_range=64, batch_size=6,
                          changed_share=0.05, new_share=0.03,
                          same_share=0.03),
}


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    return cfg


def test_declared_metrics_match_the_harness():
    cfg = declared()
    assert {w["name"] for w in cfg["workloads"]} == set(TINY)
    assert {m["name"]: m["unit"] for m in cfg["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in cfg["per_layer"]} == bench.PER_LAYER


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_emitted_and_corruption_counted(workload, tmp_path):
    # the interactive run corrupts its first checked result on purpose
    corrupt = workload == "interactive_small"
    run, res, rss, host = bench.execute(workload, 5, 0.5, True,
                                        str(tmp_path), spec=TINY[workload],
                                        corrupt=corrupt)
    assert host["nproc"] >= 1
    e2e = bench.end_to_end(res)
    layer = bench.per_layer(run, res, rss)
    for metrics, names in ((e2e, bench.END_TO_END), (layer, bench.PER_LAYER)):
        assert set(metrics) == set(names)
        for name, value in metrics.items():
            assert isinstance(value, (int, float)) and math.isfinite(value), name
    for name in bench.END_TO_END:
        assert e2e[name] > 0, name
    assert res.attempted > 10
    assert res.failed == (1 if corrupt else 0), res.failures
    assert 0.9 <= layer["trace.top_level_share"] <= 1.0 + 1e-9
