"""Self-test of the benchmark on tiny inputs (about two minutes).

    python3 -m pytest perfbench/test_bench.py -q

One traced R-MAT run must pass every check and print every end-to-end
and per-layer metric of BENCHMARK.json with its unit; one canonical run
with a deliberately wrong triangle oracle must count that call as
failed. Together the two runs print all thirteen end-to-end figures.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run, workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

E2E_FIGURES = {
    "setup_s", "run_s", "peak_rss_mb", "failed_ratio", "pagerank_s", "cc_s",
    "lpa_s", "msf_s", "matching_s", "hitting_time_s", "triangle_s",
    "k_truss_s", "pagerank_edges_per_s",
}


def _run(workload: str, trace: int, mutate=None):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(
            ["--workload", workload, "--seed", "5", "--seconds", "0",
             "--trace", str(trace)],
            sizes=workloads.SIZES_TINY, mutate=mutate,
        )
    lines = out.getvalue().strip().splitlines()
    printed = {ln.split()[0]: ln.split()[1:] for ln in lines[:-1]}
    return rc, json.loads(lines[-1]), printed


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def _breaks_triangle_oracle(w) -> None:
    cols, rows = w.oracle["triangle_count"]
    w.oracle["triangle_count"] = (cols, [(rows[0][0] + 1,)])


def test_metrics_print_with_units_and_a_wrong_oracle_fails():
    rc, result, printed_rmat = _run("rmat_large", trace=1)
    assert rc == 0
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 3
    _assert_metrics(result, BENCH["per_layer"])
    assert result["metrics"]["pagerank.jobs"]["value"] > 0
    assert result["metrics"]["lpa.jobs"]["value"] == 0  # not in this workload

    rc, result, printed_canon = _run(
        "canonical_fixpoints", trace=0, mutate=_breaks_triangle_oracle
    )
    assert rc == 0
    _assert_metrics(result, BENCH["end_to_end"])
    for m in BENCH["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0
    assert not result["correct"]
    assert result["failed"] == 1
    assert float(printed_canon["failed_ratio"][0]) > 0

    printed = {**printed_rmat, **printed_canon}
    assert E2E_FIGURES <= set(printed)
    for name in E2E_FIGURES:
        value, unit, samples = printed[name][:3]
        float(value)
        assert unit and samples.startswith("n=")


def test_unreachable_rest_api_reports_none_not_zero():
    report = {
        "workload": "rmat_large", "layers": None, "spans": [],
        "session_s": 7.0, "pagerank_phases": {}, "passes": [
            {"seconds": 10.0}, {"seconds": 9.0}],
        "traced_pass": {"seconds": 9.1},
    }
    layers = run.per_layer(report)
    assert all(layers[f"{op}.jobs"][0] is None for op in run.OPS)
    assert layers["tracer.overhead_pct"][0] > 0


def test_driver_time_excludes_job_intervals():
    from perfbench.trace import Span, _covered

    span = Span("w:op", start=100.0, end=110.0)
    jobs = [
        {"submissionTime": "1970-01-01T00:01:41.000GMT",
         "completionTime": "1970-01-01T00:01:43.500GMT"},
        {"submissionTime": "1970-01-01T00:01:43.000GMT",
         "completionTime": "1970-01-01T00:01:44.000GMT"},
        {"submissionTime": "1970-01-01T00:01:49.000GMT",
         "completionTime": "1970-01-01T00:01:52.000GMT"},
    ]
    assert abs(_covered(span, jobs) - 4.0) < 1e-9


if __name__ == "__main__":
    test_unreachable_rest_api_reports_none_not_zero()
    test_driver_time_excludes_job_intervals()
    test_metrics_print_with_units_and_a_wrong_oracle_fails()
    print("ok")
