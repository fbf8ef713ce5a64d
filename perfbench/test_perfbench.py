"""The benchmark's own test: each workload once per mode on the sf0.001
fixture tables (about three minutes on four cores).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.metrics import PER_LAYER  # noqa: E402

SF0_001 = os.path.join(run.DATA, "sf0.001")
WORKLOADS = ("medallion_daily", "analytics_mix", "dedup_index_build")


@pytest.fixture(autouse=True)
def restore_environment(monkeypatch):
    # measure() points these at its run directory; restore them after.
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "PYTHONPATH"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(tempfile, "tempdir", None)


def bench(workload: str, trace: int, capsys, tmp_path) -> tuple[dict, dict]:
    args = argparse.Namespace(workload=workload, seed=7, seconds=0, trace=trace,
                              data_dir=SF0_001)
    assert run.measure(args, str(tmp_path), [0.0, 0.0, 0.0]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_declared_metrics_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    assert {m["name"]: m["unit"] for m in declared["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == PER_LAYER
    assert [w["name"] for w in declared["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload, capsys, tmp_path):
    detail, result = bench(workload, 0, capsys, tmp_path)
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] > 0 and detail["failed_frac"] == 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["context"]["defaultParallelism"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric_and_nested_spans(workload, capsys, tmp_path):
    detail, result = bench(workload, 1, capsys, tmp_path)
    assert result["correct"], detail["failures"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == PER_LAYER
    with open(os.path.join(ROOT, detail["trace_file"])) as f:
        trace = json.load(f)
    spans = trace["spans"]
    assert spans
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
            assert parent["pass_id"] == s["pass_id"]
    assert not any(p.get("listener_errors") for p in trace["passes"])
    if workload == "medallion_daily":
        assert result["metrics"]["enrichment.rows_classified_per_gold_row"]["value"] == 1.0


def test_corrupted_result_counts_as_failed(monkeypatch, capsys, tmp_path):
    from perfbench.workloads import Ctx

    collect = Ctx.collect

    def corrupt(self, name, df):
        cols, rows = collect(self, name, df)
        return (cols, [tuple(v + 1 if isinstance(v, int) else v for v in r) for r in rows]
                if name == "kpis" else rows)

    monkeypatch.setattr(Ctx, "collect", corrupt)
    detail, result = bench("medallion_daily", 0, capsys, tmp_path)
    assert detail["failed_frac"] > 0
    assert not result["correct"] and result["failed"] >= 2
    assert all(k.endswith(".kpis") for k in detail["failures"])


def test_wrong_enrichment_counts_as_failed(monkeypatch, capsys, tmp_path):
    """Every 50th classifier output malformed: the gold rows fall back to
    the neutral record, which the first pass's gold checks catch."""
    from youtube_podcast_data_pipeline_azure_spark.enrichment import DeterministicClassifier

    from perfbench import workloads

    monkeypatch.setattr(workloads, "make_classifier",
                        lambda spark, seed, traced: DeterministicClassifier(seed, fail_every=50))
    detail, result = bench("medallion_daily", 0, capsys, tmp_path)
    assert not result["correct"]
    assert {"pass0.gold_videos", "pass0.gold_comments"} <= set(detail["failures"])
