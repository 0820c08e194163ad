"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pytest

import gen
import stats
from steady import parse_seeds
from tracing import Tracer, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles -------------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (0, None), (10, None), (19, None), (20, 50.0), (21, 52.0),
    (100, 90.0), (199, 94.0), (200, 95.0), (1000, 99.0),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert n - int(np.ceil(n * want / 100.0)) >= 10


def test_percentile_matches_numpy_and_rejects_empty():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(np.percentile(xs, 90))
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_quartile_spread_is_iqr_over_median():
    q1, med, q3, spread = stats.quartile_spread([10, 10, 11, 12, 12, 13, 14])
    assert med == 12
    assert spread == pytest.approx((q3 - q1) / 12)


# -- recall and result checks ------------------------------------------------

def test_recall_at_k():
    assert stats.recall_at_k([1, 2, 3], [1, 2, 3]) == 1.0
    assert stats.recall_at_k([1, 9, 8], [1, 2, 3]) == pytest.approx(1 / 3)
    assert stats.recall_at_k([], []) == 1.0


def test_exact_topk_breaks_ties_by_id():
    ids = np.array([7, 3, 5, 1], dtype=np.int64)
    vecs = np.array([[1, 0], [0, 1], [-1, 0], [3, 3]], dtype=np.float32)
    got_ids, got_d = stats.exact_topk(ids, vecs, [0.0, 0.0], 2)
    assert list(got_ids) == [3, 5]  # three rows at distance 1: smallest ids
    assert list(got_d) == [1.0, 1.0]


def _truth(ids, vecs, q, k=2):
    d = stats.sq_dists(vecs, np.asarray(q, np.float32))
    pos = {int(i): p for p, i in enumerate(ids)}
    tids, tds = stats.exact_topk(ids, vecs, q, k, d=d)
    return (lambda i: float(d[pos[i]]) if i in pos else None), tids, tds


def test_check_knn_result_accepts_exact_answer_and_tolerance():
    ids = np.array([1, 2, 3], dtype=np.int64)
    vecs = np.array([[0, 0], [1, 0], [3, 0]], dtype=np.float32)
    dist_of, tids, tds = _truth(ids, vecs, [0.1, 0.0])
    ok = [(1, 0.01 + 5e-7), (2, 0.81)]
    assert stats.check_knn_result(ok, dist_of, tids, tds, 2, exact=True) is None


@pytest.mark.parametrize("rows, reason", [
    ([(2, 0.81), (1, 0.01)], "nearest-first"),
    ([(1, 0.01), (3, 8.41)], "missing"),
    ([(1, 0.02), (2, 0.81)], "distance"),
    ([(1, 0.01), (9, 0.5)], "not live"),
    ([(1, 0.01), (1, 0.01)], "duplicate"),
])
def test_check_knn_result_reports_wrong_answers(rows, reason):
    ids = np.array([1, 2, 3], dtype=np.int64)
    vecs = np.array([[0, 0], [1, 0], [3, 0]], dtype=np.float32)
    dist_of, tids, tds = _truth(ids, vecs, [0.1, 0.0])
    why = stats.check_knn_result(rows, dist_of, tids, tds, 2, exact=True)
    assert why is not None and reason in why


def test_ann_answer_may_miss_neighbours_but_not_lie():
    ids = np.array([1, 2, 3], dtype=np.int64)
    vecs = np.array([[0, 0], [1, 0], [3, 0]], dtype=np.float32)
    dist_of, tids, tds = _truth(ids, vecs, [0.1, 0.0])
    rows = [(1, 0.01), (3, 8.41)]
    assert stats.check_knn_result(rows, dist_of, tids, tds, 2, exact=False) is None
    assert stats.recall_at_k([i for i, _ in rows], tids) == 0.5


# -- metric names ------------------------------------------------------------

@pytest.mark.parametrize("name, ok", [
    ("op_p50_ms", True), ("ivf.load_ms", True), ("9lives", True),
    ("spark.task_time_ms", True), ("_x", False), ("a b", False),
    ("a/b", False), ("x" * 64, True), ("x" * 65, False), ("", False),
])
def test_metric_name_pattern(name, ok):
    assert stats.valid_metric_name(name) is ok


def test_benchmark_json_names_and_limits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(stats.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    assert 1 <= len(spec["end_to_end"]) <= 16 and len(spec["per_layer"]) <= 128
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
               for key in ("end_to_end", "per_layer") for m in spec[key])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- space accounting --------------------------------------------------------

def test_space_amp_counts_every_file_under_the_paths(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "sub").mkdir()
    (tmp_path / "a" / "f1").write_bytes(b"x" * 100)
    (tmp_path / "a" / "sub" / "f2").write_bytes(b"x" * 50)
    (tmp_path / "b").mkdir()
    (tmp_path / "b" / "f3").write_bytes(b"x" * 30)
    assert stats.dir_bytes(str(tmp_path / "a")) == 150
    assert stats.dir_bytes(str(tmp_path / "missing")) == 0
    amp = stats.space_amp([str(tmp_path / "a"), str(tmp_path / "b")], 60)
    assert amp == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.space_amp([str(tmp_path / "a")], 0)


def test_vector_row_bytes():
    assert stats.vector_row_bytes(64) == 8 + 256
    assert stats.vector_row_bytes(4, 10) == 8 + 16 + 10


def test_files_per_cluster(tmp_path):
    for c, n in ((0, 3), (1, 1)):
        d = tmp_path / f"cluster={c}"
        d.mkdir()
        for i in range(n):
            (d / f"part-{i}.parquet").write_bytes(b"")
        (d / ".part-0.parquet.crc").write_bytes(b"")
    assert stats.files_per_cluster(str(tmp_path)) == 2.0


# -- generators --------------------------------------------------------------

def _fp(text):
    return hashlib.md5(re.sub("[ ]+", " ", text.lower()).strip(" ").encode()).hexdigest()


def _shingles(text):
    toks = text.lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def test_doc_stream_is_seeded_and_plants_what_it_says():
    a = gen.DocStream(np.random.default_rng([5, 1]))
    b = gen.DocStream(np.random.default_rng([5, 1]))
    base_a, base_b = a.base(50), b.base(50)
    assert base_a.texts == base_b.texts
    drop = a.drop(100, 0.1, 0.2)
    assert (len(drop.exact_dup_ids), len(drop.near_dup_ids)) == (10, 20)
    assert len(drop.unique_ids) == 70
    text = dict(zip(drop.doc_ids, drop.texts))
    earlier = {_fp(t): t for t in base_a.texts + [text[i] for i in drop.unique_ids]}
    for i in drop.exact_dup_ids:
        assert _fp(text[i]) in earlier and text[i] not in earlier.values()
    for i in drop.near_dup_ids:
        best = max(len(_shingles(text[i]) & _shingles(t)) /
                   len(_shingles(text[i]) | _shingles(t)) for t in earlier.values())
        assert best > 0.9
    assert min(drop.doc_ids) > max(base_a.doc_ids)


def test_mixture_is_seeded():
    m1 = gen.Mixture.make(np.random.default_rng(3), 4, 8)
    m2 = gen.Mixture.make(np.random.default_rng(3), 4, 8)
    x1 = m1.sample(np.random.default_rng(4), 10)
    assert np.array_equal(x1, m2.sample(np.random.default_rng(4), 10))
    assert x1.dtype == np.float32 and x1.shape == (10, 8)


# -- tracing and the steadiness script ---------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr._op = (0, "x")
    tr.spans = [
        {"id": 1, "name": "bench.x", "parent": None, "op": 0, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "ivf.search", "parent": 1, "op": 0, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "knn.knn", "parent": 2, "op": 0, "start": 2.0, "end": 3.0},
        {"id": 4, "name": "ivf.action", "parent": 1, "op": 0, "start": 3.5, "end": 6.0},
    ]
    st = tr.self_times()
    assert st["bench"] == pytest.approx(10 - 5)  # children cover [1, 6]
    assert st["ivf"] == pytest.approx(2 + 2.5)
    assert st["knn"] == pytest.approx(1)


def test_wrap_and_unwrap_restore_the_original():
    class Thing:
        @classmethod
        def make(cls, x):
            return x + 1

        def run(self):
            return 5

    tr = Tracer(enabled=True)
    orig = Thing.__dict__["make"]
    tr.wrap(Thing, "make", "layer.make")
    tr.wrap(Thing, "run", "layer.run")
    assert Thing.make(1) == 2 and Thing().run() == 5
    assert [s["name"] for s in tr.spans] == ["layer.make", "layer.run"]
    tr.unwrap_all()
    assert Thing.__dict__["make"] is orig


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.op("x"), tr.span("a.b"):
        pass
    assert tr.spans == [] and tr.op_counters == []


def test_parse_seeds():
    assert parse_seeds("1-3,7") == [1, 2, 3, 7]
    assert parse_seeds("4") == [4]
