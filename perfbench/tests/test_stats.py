"""Tail-percentile selection, span self-time arithmetic and the
BENCHMARK.json / layers.py agreement.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import stats  # noqa: E402
from spans import FULL, LIGHT, Tracer  # noqa: E402


def test_tail_is_highest_order_statistic_with_ten_beyond():
    values = list(range(1, 41))  # 40 samples
    value, pct = stats.tail(values)
    assert value == 30  # 10 samples (31..40) lie strictly above it
    assert pct == 75.0
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order_and_grows_with_samples():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 20  # 100 samples
    value, pct = stats.tail(values)
    assert value == 5.0 and pct == 90.0
    assert stats.tail(list(range(1000)))[1] == 99.0


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) == (None, None)
    value, pct = stats.tail(list(range(11)))
    assert value == 0 and abs(pct - 100 / 11) < 1e-9


def test_quartiles_match_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q1, q2, q3 = stats.quartiles(vals)
    assert q2 == stats.median(vals) == 3.5
    assert (q1, q3) == (1.75, 5.25)
    assert stats.iqr_over_median(vals) == (5.25 - 1.75) / 3.5


def test_self_time_subtracts_children():
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_counts_overlapping_children_once():
    # two children ran in parallel threads over [2, 6] and [4, 8]
    assert stats.self_time(0.0, 10.0, [(2.0, 6.0), (4.0, 8.0)]) == 4.0
    # a child nested inside another child adds nothing
    assert stats.self_time(0.0, 10.0, [(2.0, 8.0), (3.0, 4.0)]) == 4.0


def test_self_time_clips_children_to_the_parent():
    assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    assert stats.self_time(2.0, 6.0, [(7.0, 9.0)]) == 4.0


def test_tracer_links_parents_and_computes_self_time():
    tracer = Tracer()

    class Target:
        def outer(self):
            time.sleep(0.02)
            self.inner()
            return "done"

        def inner(self):
            time.sleep(0.03)

    tracer.wrap(Target, "outer", "outer")
    tracer.wrap(Target, "inner", "inner")
    try:
        tracer.start_op(0, FULL)
        assert Target().outer() == "done"
    finally:
        tracer.unwrap_all()
    inner, outer = sorted(tracer.spans, key=lambda s: s.name)
    assert inner.parent is outer and outer.parent is None
    assert abs(outer.self_s - (outer.duration - inner.duration)) < 1e-9
    assert outer.self_s >= 0.015


def test_light_level_records_only_named_spans():
    tracer = Tracer(light_names={"kept"})

    def f():
        return 1

    holder = type("Holder", (), {"kept": staticmethod(f), "dropped": staticmethod(f)})
    tracer.wrap(holder, "kept", "kept")
    tracer.wrap(holder, "dropped", "dropped")
    tracer.start_op(0, LIGHT)
    holder.kept()
    holder.dropped()
    tracer.unwrap_all()
    assert [s.name for s in tracer.spans] == ["kept"]
    assert holder.dropped is f


def test_benchmark_json_lists_the_per_layer_table():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    for w in bench["workloads"]:
        assert listed == [(n, u, b) for n, u, b, *_ in layers.metrics_for(w["name"])]
    assert layers.VERSIONED_WORKLOAD not in [w["name"] for w in bench["workloads"]]


def test_stage_walker_counts_files_deleted_inside_an_op(tmp_path):
    import workloads

    root = tmp_path / "stage"
    table, staging = root / "t", root / "t__tmp_1"
    table.mkdir(parents=True)
    staging.mkdir()
    walker = workloads.StageWalker(str(root))
    assert walker.walk() == (0, 0)
    (staging / "a.parquet").write_bytes(b"x" * 100)  # the staging copy
    walker.record(str(staging))
    (table / "b.parquet").write_bytes(b"y" * 40)  # the rewrite
    walker.record(str(table))
    for f in staging.iterdir():
        f.unlink()
    (table / "c.parquet").write_bytes(b"z" * 7)  # written without a recorded write
    assert walker.walk() == (2, 147)
    assert walker.walk() == (2, 0)
    assert walker.covers(str(table)) and not walker.covers(str(tmp_path / "raw"))
