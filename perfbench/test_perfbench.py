"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import hashlib
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from stats import METRIC_NAME, bonferroni_z, check_metric_name, tail  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    for n, pct in ((20, 50.0), (100, 90.0), (1000, 99.0)):
        xs = list(range(n))
        value, p = tail(reversed(xs))
        assert p == pct
        assert sum(x > value for x in xs) == 10


def test_tail_of_short_runs_is_the_maximum():
    for n in (1, 5, 11, 19):
        assert tail(range(n)) == (n - 1, 100.0)
    with pytest.raises(ValueError):
        tail([])


def test_bonferroni_z_grows_with_checks():
    assert 3.8 < bonferroni_z(1) < bonferroni_z(12) < bonferroni_z(20_000) < 6.0


def _digest_dir(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_one_seed_always_gives_the_same_input(tmp_path):
    def make(tag, seed):
        return gen.tokens_table(str(tmp_path / tag), seed, rows=3000, row_groups=6,
                                n_files=3, vocab_bits=12)

    a, b, c = make("a", 7), make("b", 7), make("c", 8)
    assert _digest_dir(a.path) == _digest_dir(b.path) != _digest_dir(c.path)
    assert a.summary() == b.summary()
    assert list(a.distinct_by_key) == list(b.distinct_by_key)


def test_seeded_keyed_and_serving_inputs_repeat(tmp_path):
    k1 = gen.keyed_table(str(tmp_path / "k1"), 3, 2000, 2, 2, 12, buckets=50)
    k2 = gen.keyed_table(str(tmp_path / "k2"), 3, 2000, 2, 2, 12, buckets=50)
    assert _digest_dir(k1.path) == _digest_dir(k2.path)
    assert k1.keys == k2.keys and list(k1.distinct_by_key) == list(k2.distinct_by_key)
    probes = np.array([1, 5, 9], dtype=np.int32)
    p1, b1, s1 = gen.serving_tables(str(tmp_path / "s1"), 3, 1000, 2, 2, 300, 10, probes)
    p2, b2, s2 = gen.serving_tables(str(tmp_path / "s2"), 3, 1000, 2, 2, 300, 10, probes)
    assert _digest_dir(b1.path) == _digest_dir(b2.path)
    assert [_digest_dir(os.path.dirname(p)) for p in p1] == [_digest_dir(os.path.dirname(p)) for p in p2]
    assert [b1.rows] + [s.rows for s in s1] == [1000, 1300, 1300]
    assert (s1[-1].probe_counts == s2[-1].probe_counts).all()
    assert s1[0].tokens != s1[1].tokens  # each state is the base plus one arrival


def test_heavy_tailed_layout():
    sizes = gen.heavy_tailed_sizes(1_000_000, 64, 10.0)
    assert sizes.sum() == 1_000_000
    assert 9.5 < sizes.max() / np.median(sizes) < 10.5
    assert (sizes == gen.heavy_tailed_sizes(1_000_000, 64, 10.0)).all()


def test_metric_names_are_valid():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.fullmatch(name), name
    for bad in ("", "_x", "a b", "x" * 65, "é"):
        with pytest.raises(ValueError):
            check_metric_name(bad)
