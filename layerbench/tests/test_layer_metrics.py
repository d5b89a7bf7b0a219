"""Per-layer metrics from a hand-made trace (no Spark, no engine).

Run from the repository root: ``python3 -m pytest layerbench/tests -q``.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from layerbench import workloads  # noqa: E402
from layerbench.spans import Span, Tracer  # noqa: E402

# measured after the workload, not from spans
NOT_FROM_SPANS = {"html.strip_mb_per_s", "analysis.analyze_mb_per_s",
                  "pfor.encode_mvalues_per_s", "pfor.decode_mvalues_per_s",
                  "bm25.score_mpostings_per_s", "spark.empty_job_ms"}


def add(tr: Tracer, name: str, start: float, end: float, jobs=()) -> None:
    s = Span(len(tr.spans), None, len(tr.spans), name, start, end)
    s.jobs = [(i, start, end, {"input": 0, "shuffle_read": 0, "shuffle_write": 0,
                               "output": 2_000_000, "run_ms": 500, "result": 0})
              for i in jobs]
    tr.spans.append(s)


def traced_run() -> workloads.Run:
    run = workloads.Run(None, "", 1, 1.0, Tracer())
    add(run.tr, "search.Searcher", 0.0, 0.002)
    add(run.tr, "indexer.build_index", 0.0, 9.0, jobs=range(9))      # set-up: left out
    run.measure_from = len(run.tr.spans)
    for r in range(2):                                               # two timed rounds
        t = 10.0 + 10 * r
        add(run.tr, "indexer.build_index", t, t + 1.0, jobs=range(3))
        add(run.tr, "merge.merge_index", t + 1.0, t + 4.0, jobs=range(2))
        add(run.tr, "check.check_index", t + 4.0, t + 6.0)
    run.round_s = [6.0, 6.0]
    return run


def test_every_span_metric_is_printed_once():
    out = workloads.layer_metrics(traced_run())
    names = [n for n, _ in workloads.LAYER_METRICS]
    assert len(names) == len(set(names))
    assert set(out) == set(names) - NOT_FROM_SPANS


def test_span_metrics_are_per_timed_round():
    out = workloads.layer_metrics(traced_run())
    assert out["indexer.build_s"] == pytest.approx(1.0)
    assert out["indexer.build_jobs"] == 3
    assert out["indexer.written_mb"] == pytest.approx(6.0)
    assert out["merge.merge_s"] == pytest.approx(3.0)
    assert out["merge.executor_busy_s"] == pytest.approx(1.0)
    assert out["check.check_s"] == pytest.approx(2.0)
    assert out["check.jobs"] == 0
    assert out["search.open_ms"] == pytest.approx(2.0)


def test_layers_a_workload_does_not_call_read_zero():
    out = workloads.layer_metrics(traced_run())
    for name in ("indexer.delete_s", "plans.parse_ms", "search.search_ms", "search.jobs",
                 "search.first_query_jobs", "search.blocks_scanned"):
        assert out[name] == 0


def test_manifest_lists_what_the_runs_print():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        manifest = json.load(f)
    assert [(m["name"], m["unit"]) for m in manifest["per_layer"]] == list(workloads.LAYER_METRICS)
    e2e = workloads._e2e(workloads.Run(None, "", 1, 1.0, None), 1.0, 1.0)
    assert [(m["name"], m["unit"]) for m in manifest["end_to_end"]] == \
        [(k, u) for k, (_, u) in e2e.items()]
