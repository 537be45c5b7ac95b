"""Unit tests for the benchmark's own helpers; no Spark needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import numpy as np
import pytest

import core
from mirror import CollectionMirror, normalize_rows


# -- tail percentile ------------------------------------------------------


def test_tail_falls_back_to_median_below_twenty_samples():
    xs = list(range(1, 20))  # 19 samples: p50 has only 9 above it
    assert core.tail_percentile(xs) == (10, 50.0)


def test_tail_uses_p50_grid_point_at_twenty_samples():
    xs = list(range(1, 21))  # rank ceil(0.5*20)=10 leaves exactly 10 above
    assert core.tail_percentile(xs) == (10, 50.0)


def test_tail_climbs_the_grid_with_more_samples():
    assert core.tail_percentile(range(1, 41)) == (30, 75.0)  # 10 above rank 30
    assert core.tail_percentile(range(1, 100)) == (75, 75.0)  # p90 would leave 9
    assert core.tail_percentile(range(1, 101)) == (90, 90.0)
    assert core.tail_percentile(range(1, 1001)) == (990, 99.0)


def test_tail_ignores_input_order_and_rejects_empty():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8  # 40 samples
    assert core.tail_percentile(xs) == (4.0, 75.0)
    with pytest.raises(ValueError):
        core.tail_percentile([])


# -- self time ------------------------------------------------------------


def span(i, parent, start, end, name="collection.query"):
    return core.Span(i, name, "", parent, 0, start, end)


def test_self_time_subtracts_nested_children():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 1, 2.0, 3.0)]
    st = core.self_times(spans)
    assert st[0] == pytest.approx(7.0)  # 10 - 3 (child 1)
    assert st[1] == pytest.approx(2.0)  # 3 - 1 (grandchild is child 1's)
    assert st[2] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # two children overlapping on [3, 4], one sticking out past the parent
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 2.0, 4.0),
        span(2, 0, 3.0, 6.0),
        span(3, 0, 9.0, 12.0),
    ]
    st = core.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)  # union [2,6] + clipped [9,10]


def test_self_pct_shares_sum_over_layers():
    spans = [
        span(0, None, 0.0, 10.0, "bench.step"),
        span(1, 0, 1.0, 5.0, "collection.query"),
        span(2, 1, 2.0, 3.0, "sources.load_table"),
    ]
    shares = core.self_pct(spans)
    assert shares == pytest.approx({"bench": 60.0, "collection": 30.0, "sources": 10.0})


def test_tracer_nests_spans_and_skips_when_disabled():
    tr = core.Tracer(enabled=True)
    with tr.op(3), tr.span("bench.step"):
        with tr.span("collection.query"):
            with tr.span("collection.query", "build"):
                pass
    assert [(s.name, s.phase, s.parent, s.op) for s in tr.spans] == [
        ("bench.step", "", None, 3),
        ("collection.query", "", 0, 3),
        ("collection.query", "build", 1, 3),
    ]
    tr.enabled = False
    with tr.span("collection.get") as s:
        assert s is None
    assert len(tr.spans) == 3
    m = core.span_metrics(tr.spans)
    assert m["collection.query.calls"] == 1 and "collection.query.build_ms" in m


# -- plan-node counter ----------------------------------------------------


TREE = """Union false, false
:- Join LeftAnti, (__id__#0 = __id__#10)
:  :- Relation [__id__#0,vector#1,cat#2] parquet
:  +- ResolvedHint (strategy=broadcast)
:     +- LocalRelation [__id__#10]
+- Project [__id__#20, vector#21, cat#22]
   +- Filter ((__dim__#23 = 384) AND (__norm__#24 > 0.0))
      +- InMemoryRelation [__id__#20, vector#21], StorageLevel(disk, memory, deserialized, 1 replicas)
"""


def test_count_plan_nodes_on_a_hand_written_tree():
    assert core.count_plan_nodes(TREE) == 8
    assert core.count_plan_nodes("LocalRelation <empty>, [__id__#0]\n") == 1
    assert core.count_plan_nodes("") == 0


# -- NumPy mirror ---------------------------------------------------------


def test_mirror_topk_lww_and_delete_by_hand():
    m = CollectionMirror(2)
    rep = m.upsert(
        ["a", "b", "c", "a"],
        np.array([[1, 0], [0, 1], [1, 1], [3, 4]], np.float32),
        np.array([0, 1, 0, 1]),
    )
    # "a" repeats: its last row wins and its report position is its last row
    assert rep == {"updated": [], "inserted": ["b", "c", "a"]}
    assert len(m) == 3
    q = np.array([1.0, 0.0])
    # normalized: a=(.6,.8) -> .6, b=(0,1) -> 0, c=(.7071,.7071) -> .7071
    top = m.topk(q, 2)
    assert [i for i, _ in top] == ["c", "a"]
    assert top[0][1] == pytest.approx(math.sqrt(0.5), abs=1e-7)
    assert top[1][1] == pytest.approx(0.6, abs=1e-7)
    assert [i for i, _ in m.topk(q, 3, cat=1)] == ["a", "b"]
    assert [i for i, _ in m.topk(q, 3, better_than=0.65)] == ["c"]

    rep = m.upsert(["c", "d"], np.array([[0, 2], [2, 0]], np.float32), np.array([0, 0]))
    assert rep == {"updated": ["c"], "inserted": ["d"]}
    m.delete(["a", "zzz"])
    assert "a" not in m and len(m) == 3
    # d=(1,0) scores 1; c and b both (0,1) score 0 and tie, broken by id
    assert [i for i, _ in m.topk(q, 3)] == ["d", "b", "c"]


def test_mirror_checks_accept_right_and_reject_wrong_answers():
    m = CollectionMirror(2)
    m.upsert(["a", "b"], np.array([[1, 0], [1, 1]], np.float32), np.array([0, 0]))
    q = np.array([1.0, 0.0])
    good = [("a", 1.0), ("b", math.sqrt(0.5))]
    assert m.check_topk(good, q, 2) is None
    assert m.check_topk(good[::-1], q, 2) is not None
    assert m.check_topk([("a", 0.9), good[1]], q, 2) is not None  # score off
    assert m.check_topk(good[:1], q, 2) is not None  # too few rows
    vec_a = normalize_rows(np.array([[1, 0]], np.float32))[0]
    assert m.check_get(["a", "nope"], [("a", list(vec_a))]) is None
    assert m.check_get(["a", "nope"], []) is not None
    assert m.check_get(["a"], [("a", list(vec_a)), ("a", list(vec_a))]) is not None


# -- records --------------------------------------------------------------


def test_baseline_only_from_identical_config():
    a = {"master": "local[4]", "shuffle_partitions": "4", "seed": 1}
    b = dict(a, master="local[8]")
    recs = [
        {"config_key": core.config_key(a), "n": 1},
        {"config_key": core.config_key(b), "n": 2},
        {"config_key": core.config_key(a), "n": 3},
    ]
    assert core.baseline_for(recs, a)["n"] == 3
    assert core.baseline_for(recs, b)["n"] == 2
    assert core.baseline_for(recs, dict(a, seed=2)) is None


def test_hash_rows_is_order_and_column_order_insensitive():
    h1 = core.hash_rows(["x", "y"], [(1, 2.0), (3, None)])
    h2 = core.hash_rows(["y", "x"], [(float("nan"), 3), (2, 1.0)])
    assert h1 == h2
    assert h1 != core.hash_rows(["x", "y"], [(1, 2.5), (3, None)])
