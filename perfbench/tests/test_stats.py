"""Pure-function tests for the benchmark's own helpers (no Spark session).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import batch, stream, stats, trace  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- names and the BENCHMARK.json schema --------------------------------


def test_every_metric_name_is_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += batch.LAYER_METRICS + stream.LAYER_METRICS
    for name in names:
        assert stats.METRIC_NAME.fullmatch(name), name
        assert len(name) <= 64


def test_metric_name_pattern_refuses_bad_names():
    assert stats.METRIC_NAME.fullmatch("llm.similarity.python_run_s")
    for bad in ("", ".leading_dot", "has space", "slash/inside", "x" * 65):
        assert not stats.METRIC_NAME.fullmatch(bad), bad


def test_benchmark_json_passes_the_schema():
    assert stats.schema_problems(_spec()) == []


def test_benchmark_json_workloads_match_the_runner():
    from perfbench import run

    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_per_layer_metrics_are_all_produced_by_some_workload():
    produced = set(batch.LAYER_METRICS) | set(stream.LAYER_METRICS) | {
        "warm_pass_s",
        "peak_rss_mb",
        "functions.batching.small_groups_rows_per_s",
        "functions.batching.hot_group_rows_per_s",
    }
    assert {m["name"] for m in _spec()["per_layer"]} == produced


@pytest.mark.parametrize(
    "mutate, problem",
    [
        (lambda s: s.pop("paths"), "top-level keys"),
        (lambda s: s.update(run_seconds=61), "run_seconds"),
        (lambda s: s.update(run_seconds=True), "run_seconds"),
        (lambda s: s["command"].append("/abs/path"), "leaves the checkout"),
        (lambda s: s["command"].append("../up"), "leaves the checkout"),
        (lambda s: s.update(paths=["../out"]), "bad path"),
        (lambda s: s["workloads"].pop(), "workloads must hold"),
        (lambda s: s["end_to_end"][0].update(bound=0.3), "bound"),
        (lambda s: s["end_to_end"][0].update(unit="seconds and more"), "bad unit"),
        (lambda s: s["end_to_end"][0].update(better="faster"), "bad better"),
        (lambda s: s["per_layer"].append(dict(s["per_layer"][0])), "names used twice"),
        (lambda s: s["end_to_end"].pop(0), "setup_s"),
    ],
)
def test_schema_check_catches(mutate, problem):
    spec = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": "a", "why": "x"}, {"name": "b", "why": "y"}],
        "end_to_end": [
            {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.2},
            {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1},
        ],
        "per_layer": [{"name": "x.jobs", "unit": "count", "better": "lower"}],
    }
    assert stats.schema_problems(spec) == []
    mutate(spec)
    assert any(problem in p for p in stats.schema_problems(spec))


# ---- summaries ----------------------------------------------------------


def test_percentile_refuses_a_thin_tail():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90  # exactly 10 beyond
    with pytest.raises(ValueError, match="at least 10"):
        stats.percentile(values, 91)
    with pytest.raises(ValueError):
        stats.percentile(list(range(50)), 90)


def test_percentile_counts_the_tail_in_groups():
    # 200 events from 20 micro-batches of 10: p90 has 2 batches beyond it
    values = [float(i) for i in range(200)]
    groups = [i // 10 for i in range(200)]
    with pytest.raises(ValueError, match="2 samples beyond"):
        stats.percentile(values, 90, groups=groups)
    assert stats.percentile(values, 50, groups=groups) == 99.0
    assert stats.percentile(values, 90, groups=groups, min_tail=2) == 179.0


def test_percentile_rejects_bad_arguments():
    for q in (0, 100, -1):
        with pytest.raises(ValueError):
            stats.percentile([1.0] * 100, q)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0, 2.0], 50, groups=[1], min_tail=0)


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            stats.geomean(bad)


def test_median():
    assert stats.median([1.0, 9.0, 1.2]) == 1.2
    assert stats.median([2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_normalized_scales_by_the_median_reference():
    # the host ran the reference at 0.06 s against 0.03 nominal: half speed
    assert stats.normalized(4.0, [0.06, 0.05, 0.5], 0.03) == pytest.approx(2.0)
    assert stats.normalized(1.0, [0.03], 0.03) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.normalized(1.0, [], 0.03)


# ---- digests ------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", "y", "z"]})
    b = a.iloc[::-1][["s", "v", "k"]].reset_index(drop=True)
    assert stats.digest(a) == stats.digest(b)
    assert stats.digest(a)["rows"] == 3


def test_digest_widens_integers_and_folds_negative_zero():
    a = pd.DataFrame({"k": np.array([1, 2], dtype="int32"), "v": [0.0, 1.0]})
    b = pd.DataFrame({"k": np.array([1, 2], dtype="int64"), "v": [-0.0, 1.0]})
    assert stats.digest(a) == stats.digest(b)


def test_digest_keeps_int_and_float_apart():
    ints = pd.DataFrame({"k": [1, 2]})
    floats = pd.DataFrame({"k": [1.0, 2.0]})
    assert stats.digest(ints) != stats.digest(floats)


def test_digest_keeps_bool_apart_from_int():
    assert stats.digest(pd.DataFrame({"b": [True, False]})) != stats.digest(
        pd.DataFrame({"b": [1, 0]})
    )


def test_digest_timestamps_by_instant_not_unit():
    ns = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[ns]")})
    us = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[us]")})
    assert stats.digest(ns) == stats.digest(us)


def test_digest_nullable_ints_compare_on_the_float_path():
    nullable = pd.DataFrame({"k": pd.array([1, None], dtype="Int64")})
    floats = pd.DataFrame({"k": [1.0, math.nan]})
    assert stats.digest(nullable) == stats.digest(floats)


def test_digest_sees_a_changed_value():
    a = pd.DataFrame({"v": [0.1, 0.2]})
    b = pd.DataFrame({"v": [0.1, 0.2000000000000001]})
    assert stats.digest(a) != stats.digest(b)


def test_digest_matches_rows_only_pins_the_count():
    got = {"rows": 5, "sha256": "abc"}
    assert stats.digest_matches(got, {"rows": 5, "sha256": None})
    assert not stats.digest_matches(got, {"rows": 6, "sha256": None})
    assert stats.digest_matches(got, {"rows": 5, "sha256": "abc"})
    assert not stats.digest_matches(got, {"rows": 5, "sha256": "abd"})


def test_expected_digests_cover_every_workload_key():
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        expected = json.load(f)
    keys = batch.KEYS + batch.TRACED_KEYS
    assert set(keys) <= set(expected)
    for key in keys:
        assert isinstance(expected[key]["rows"], int)


# ---- status-store parsing -----------------------------------------------


def test_parse_metric_reads_plain_and_per_task_forms():
    assert trace.parse_metric("954 ms") == pytest.approx(0.954)
    assert trace.parse_metric("2.6 s") == pytest.approx(2.6)
    assert trace.parse_metric("500.3 KiB") == pytest.approx(500.3 * 1024)
    assert trace.parse_metric(
        "total (min, med, max (stageId: taskId))\n3.7 MiB (1807.6 KiB, 1944.0 KiB, "
        "1944.0 KiB (stage 4.0: task 4))"
    ) == pytest.approx(3.7 * 2**20)
    with pytest.raises(ValueError):
        trace.parse_metric("12 parsecs")


def test_union_of_job_spans():
    assert trace.union_s([]) == 0.0
    assert trace.union_s([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert trace.union_s([(0.0, 5.0), (1.0, 2.0)]) == pytest.approx(5.0)


def test_spans_record_parent_and_run():
    spans = trace.Spans("r1")
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    outer, inner = spans.records
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {outer["run"], inner["run"]} == {"r1"}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
