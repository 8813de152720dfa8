"""Self-tests for the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import (  # noqa: E402
    OpCounters, Span, SpanRecorder, counters_by_label, prefix_self_times,
    read_event_logs, self_times)


# ------------------------------------------------------------ percentiles


def test_beta_cdf():
    assert stats.beta_cdf(1.0, 1.0, 0.3) == pytest.approx(0.3)
    assert stats.beta_cdf(2.5, 2.5, 0.5) == pytest.approx(0.5)
    # I_x(2, 3) = 1 - (1 - x)^3 (1 + 3x)
    x = 0.2
    assert stats.beta_cdf(2.0, 3.0, x) == pytest.approx(
        1 - (1 - x) ** 3 * (1 + 3 * x))
    assert stats.beta_cdf(0.4, 3.6, 0.999) == pytest.approx(1.0, abs=1e-6)


def test_quantile_is_harrell_davis():
    assert stats.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == pytest.approx(2.5)
    assert stats.quantile([5.0], 0.9) == 5.0
    assert stats.quantile([3.0, 1.0, 2.0], 1.0) == 3.0
    assert stats.quantile([3.0, 1.0, 2.0], 0.0) == 1.0
    # two samples: the Beta(1.5, 1.5) median splits the mass evenly
    assert stats.quantile([0.0, 1.0], 0.5) == pytest.approx(0.5)
    # every sample carries some weight, the near ones most
    xs = [float(i) for i in range(12)]
    assert stats.quantile(xs, 0.5) == pytest.approx(5.5)
    assert 9.0 < stats.quantile(xs, 0.9) < 11.0
    assert stats.quantile(xs + [1000.0], 0.5) > stats.quantile(
        xs + [12.0], 0.5)


def test_mix_weights_give_each_kind_equal_share():
    # kind "slow" fitted three times, "fast" once: unweighted, the
    # median is near the slow requests; weighted, each kind holds half
    # the mass, so the median falls halfway between the kinds
    xs = [10.0, 10.0, 10.0, 1.0]
    strata = ["slow", "slow", "slow", "fast"]
    w = stats.mix_weights(strata)
    assert sum(w[:3]) == pytest.approx(w[3])
    assert stats.quantile(xs, 0.5) > 8.0
    assert stats.quantile(xs, 0.5, w) == pytest.approx(5.5)
    assert stats.quantile(xs, 0.2, w) < 5.5 < stats.quantile(xs, 0.9, w)


# ------------------------------------------------------------ span self time


def _span(sid, name, start, end, parent):
    return Span(sid, name, start, end, parent, op_id=1)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),     # overlaps a: union is [1, 6]
        _span(3, "a.inner", 2.0, 3.0, 1),
        _span(4, "c", 8.0, 12.0, 0),    # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)


def test_prefix_self_times_are_successive_differences():
    st = prefix_self_times([("scan", 1.0), ("transform", 1.5),
                            ("render", 1.75), ("write", 3.0)])
    assert st == {"scan": 1.0, "transform": 0.5, "render": 0.25,
                  "write": 1.25}


def test_recorder_links_parents_and_ops():
    rec = SpanRecorder()
    rec.new_op()
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    rec.new_op()
    with rec.span("next"):
        pass
    outer, inner, nxt = rec.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert (outer.op_id, inner.op_id, nxt.op_id) == (1, 1, 2)
    assert outer.start <= inner.start <= inner.end <= outer.end


# ------------------------------------------------------------ generator


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    fn = gen.GENERATORS[name]
    pa_ = fn(str(tmp_path / f"a-{name}"), 7)
    pb = fn(str(tmp_path / f"b-{name}"), 7)
    fn(str(tmp_path / f"c-{name}"), 8)
    assert _digest(tmp_path / f"a-{name}") == _digest(tmp_path / f"b-{name}")
    assert _digest(tmp_path / f"a-{name}") != _digest(tmp_path / f"c-{name}")
    assert pa_ == pb


def test_generate_writes_each_workloads_inputs(tmp_path):
    for workload, names in gen.INPUTS.items():
        inputs = gen.generate(workload, 1, str(tmp_path / workload))
        assert sorted(inputs) == sorted(names)
        for name, props in inputs.items():
            assert os.path.basename(props["path"]) == name
            assert os.path.getsize(props["path"]) == props["bytes"]


def test_documents_plant_exact_pairs_below_recrawl_offset(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    props = gen.gen_documents(path, 3)
    t = pq.read_table(path).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    assert max(t["doc_id"]) < 1_000_000
    assert len(props["exact_pairs"]) == props["exact_dups"]
    for a, b in props["exact_pairs"]:
        assert a < b and text[a] == text[b]


def test_recorder_boundary_share(tmp_path):
    props = gen.gen_recorder(str(tmp_path / "recorder.db"), 3)
    assert props["states_before_boundary"] == int(
        props["states"] * gen.BEFORE_SHARE)
    assert props["malformed_json_blobs"] > 0
    assert props["null_attributes_id"] > 0
    assert props["sentinel_states"] > 0


# ------------------------------------------------------------ event log


def test_event_log_counters_per_label():
    # a trimmed log of a local[2] run: job label "op1:count" on a count
    # (two jobs under AQE), "op2:shuffle" on a groupBy + collect, and
    # one unlabelled job, which must be ignored
    log_dir = os.path.join(HERE, "data", "eventlog")
    by_label = counters_by_label(read_event_logs(log_dir))
    assert set(by_label) == {(1, "count"), (2, "shuffle")}
    count, shuffle = by_label[(1, "count")], by_label[(2, "shuffle")]
    # a job's skipped stages send no StageCompleted and are not counted
    assert (count.jobs, count.stages, count.tasks) == (2, 2, 5)
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (2, 2, 5)
    assert count.failed_tasks == shuffle.failed_tasks == 0
    assert (count.shuffle_write_bytes, shuffle.shuffle_write_bytes) == (
        236, 692)
    assert count.executor_cpu_s == pytest.approx(0.204369976)
    assert count.gc_s == pytest.approx(0.022)
    assert count.task_busy_s == pytest.approx(0.686)
    assert count.longest_stage_s == pytest.approx(0.462)
    assert count.task_skew == pytest.approx(1.6884057971014492)
    merged = OpCounters()
    merged.add(count)
    merged.add(shuffle)
    assert merged.jobs == 4 and merged.shuffle_write_bytes == 928
    # skew follows the longer of the two stages
    assert merged.task_skew == count.task_skew
