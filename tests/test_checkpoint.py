"""Checkpoint/resume: interrupted builds resume to byte-identical answers."""

import numpy as np
import pytest

from sketchlib.agg import HllAggregator
from sketchlib.data import sequences_parquet
from sketchlib.hll import HllSketch
from sketchlib.io import CheckpointedBuild, enumerate_shards


@pytest.fixture(scope="module")
def seq_path(spark, tmp_path_factory):
    return sequences_parquet(
        spark, 20_000, cache_root=str(tmp_path_factory.mktemp("seqcache"))
    )


def test_resume_produces_identical_sketches(spark, seq_path, tmp_path):
    agg = HllAggregator(p=12, key_cols=["source"])
    direct = {r["source"]: bytes(r["sketch"]) for r in agg.merged(seq_path, spark=spark).collect()}

    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="t1")
    n_shards = len(enumerate_shards(seq_path))
    assert n_shards > 1
    # simulate interruption: one shard at a time across separate invocations
    done1 = ckpt.run(spark, seq_path, max_shards=1)
    assert done1 == 1
    assert len(ckpt.pending_shards(spark, seq_path)) == n_shards - 1
    total = ckpt.run_to_completion(spark, seq_path)
    assert total == n_shards - 1
    # idempotent: nothing pending on re-run
    assert ckpt.run(spark, seq_path) == 0

    resumed = {r["source"]: bytes(r["sketch"]) for r in ckpt.merged(spark).collect()}
    assert resumed == direct


def test_lineage_metrics(spark, seq_path, tmp_path):
    agg = HllAggregator(p=10, key_cols=["source"])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="t2")
    ckpt.run_to_completion(spark, seq_path)
    m = ckpt.metrics(spark).collect()[0]
    assert m["shards"] == len(enumerate_shards(seq_path))
    assert m["rows"] == 20_000
    assert m["items"] > 0 and m["sketch_build_secs"] > 0
    # lineage present per partial row
    cols = set(ckpt.partials(spark).columns)
    assert {"shard_id", "wall_secs", "sketch", "n_rows", "n_items", "source"} <= cols


def test_checkpointed_estimates_match_oracle(spark, seq_path, tmp_path):
    import pandas as pd

    agg = HllAggregator(p=12, key_cols=[])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="t3")
    ckpt.run_to_completion(spark, seq_path)
    est = ckpt.merged(spark, salt=4).collect()[0]
    pdf = pd.read_parquet(seq_path)
    oracle = HllSketch.empty(12)
    oracle.update_batch(np.concatenate(pdf["tokens"].to_list()).astype(np.int32))
    got = HllSketch.from_bytes(bytes(est["sketch"]))
    assert np.array_equal(got.registers, oracle.registers)


def test_iceberg_probe_and_parquet_fallback(spark, tmp_path):
    """No Iceberg jar in this sandbox: the probe must say so and
    append_partials must take the parquet path; with a jar + catalog the
    same call switches to writeTo().append() (dual-path contract)."""
    from sketchlib.io import append_partials, iceberg_available

    assert iceberg_available(spark) is False
    df = spark.range(5).selectExpr("cast(id as string) AS shard_id", "id AS n")
    sink = append_partials(df, str(tmp_path / "partials"), spark)
    assert sink == "parquet"
    assert spark.read.parquet(str(tmp_path / "partials")).count() == 5


def test_table_target_without_catalog_raises(spark):
    """A '/'-free (table-identifier) checkpoint target with no Iceberg
    catalog must fail LOUDLY: a silent parquet fallback would desync writes
    from read_partials(spark.table), so completed_shards() stays empty and
    every resume re-appends duplicate partials."""
    import pytest as _pytest

    from sketchlib.io import append_partials

    df = spark.range(3).selectExpr("cast(id as string) AS shard_id", "id AS n")
    with _pytest.raises(ValueError, match="catalog"):
        append_partials(df, "db.ckpt_no_catalog", spark)


def test_checkpoint_is_aggregator_generic_kmv_and_profile(spark, seq_path, tmp_path):
    """The resume machinery is sketch-agnostic: a KMV build interrupted
    after one shard resumes to BYTE-identical per-source sketches
    (order-exact algebra), and a composite ProfileSketch build checkpoints
    and answers through the same path."""
    from sketchlib.agg import KmvAggregator, ProfileAggregator
    from sketchlib.kmv import KmvSketch
    from sketchlib.profile import ProfileSketch

    kagg = KmvAggregator(k=1024, key_cols=["source"])
    direct = {
        r["source"]: bytes(r["sketch"]) for r in kagg.merged(seq_path, spark=spark).collect()
    }
    ckpt = CheckpointedBuild(kagg, str(tmp_path / "kmv"), run_id="k1")
    assert ckpt.run(spark, seq_path, max_shards=1) == 1
    ckpt.run_to_completion(spark, seq_path)
    resumed = {r["source"]: bytes(r["sketch"]) for r in ckpt.merged(spark).collect()}
    assert resumed == direct
    # sanity: the resumed sketch answers
    est = KmvSketch.from_bytes(next(iter(resumed.values()))).estimate()
    assert est > 0

    pagg = ProfileAggregator(p=12, key_cols=["source"])
    pck = CheckpointedBuild(pagg, str(tmp_path / "prof"), run_id="p1")
    pck.run_to_completion(spark, seq_path)
    rows = {r["source"]: r for r in pck.merged(spark).collect()}
    for src, r in rows.items():
        s = ProfileSketch.from_bytes(bytes(r["sketch"]))
        assert s.distinct_values() > 0
        assert s.kll.n == r["n_rows"]  # every row's length landed in the KLL


def test_corrupt_checkpoint_raises_instead_of_resketching(spark, seq_path, tmp_path):
    """A checkpoint that exists but cannot be read must fail the resume: a
    read error taken as "nothing done" would re-sketch the finished shard
    and append duplicate partials (a double-counting resume)."""
    import os

    ckpt = CheckpointedBuild(HllAggregator(p=10, key_cols=["source"]), str(tmp_path), run_id="c1")
    assert ckpt.run(spark, seq_path, max_shards=1) == 1
    with open(os.path.join(ckpt.ckpt_dir, "part-99999-garbage.parquet"), "wb") as f:
        f.write(b"not a parquet file" * 64)
    before = sorted(os.listdir(ckpt.ckpt_dir))
    with pytest.raises(Exception, match="part-99999-garbage"):
        ckpt.run(spark, seq_path)
    assert sorted(os.listdir(ckpt.ckpt_dir)) == before


def test_missing_or_empty_checkpoint_reads_as_nothing_done(spark, seq_path, tmp_path):
    """The cases that DO mean "nothing checkpointed yet": a local path or a
    scheme-qualified path that does not exist, and a directory holding no
    part files (a first append that failed)."""
    agg = HllAggregator(p=10, key_cols=["source"])
    missing = CheckpointedBuild(agg, str(tmp_path), run_id="m1")
    assert missing.completed_shards(spark) == set()
    qualified = CheckpointedBuild(agg, "file://" + str(tmp_path), run_id="m2")
    assert qualified.completed_shards(spark) == set()
    empty = CheckpointedBuild(agg, str(tmp_path), run_id="m3")
    (tmp_path / "m3" / "partials").mkdir(parents=True)
    assert empty.run(spark, seq_path, max_shards=1) == 1
    assert len(empty.completed_shards(spark)) == 1


def test_shard_placement_one_group_per_partition(spark):
    """Both parquet build entry points place shards through _place_shards:
    an LPT plan of min(#shards, parallelism) non-empty groups, each shard
    exactly once, heaviest group first, deterministic for equal weights, and
    a largest group within Graham's LPT bound (4/3 - 1/(3m)) x optimum.
    _scan_shards runs group i as partition i of range(m, numPartitions=m)."""
    import itertools

    from sketchlib.agg import _place_shards

    rng = np.random.default_rng(7)
    for trial in range(60):
        n, par = int(rng.integers(1, 8)), int(rng.integers(1, 5))
        w = rng.integers(1, 100, n) if trial % 3 else rng.pareto(1.0, n) * 1e6 + 1
        shards = [(f"f{i // 3}.parquet", i % 3, int(w[i])) for i in range(n)]
        weight = {(f, rg): wt for f, rg, wt in shards}
        groups = _place_shards(shards, par)
        m = min(n, par)
        assert len(groups) == m and all(groups)
        assert sorted(s for g in groups for s in g) == sorted(weight)
        load = [sum(weight[s] for s in g) for g in groups]
        assert load == sorted(load, reverse=True)
        # the optimum by brute force over every assignment (m^n <= 4^7)
        opt = min(
            max(sum(weight[s] for s, a in zip(weight, assign) if a == g) for g in range(m))
            for assign in itertools.product(range(m), repeat=n)
        )
        assert load[0] <= (4 / 3 - 1 / (3 * m)) * opt + 1e-9

    # equal weights: the same plan every time, shards dealt in planning order
    equal = [(f"f{i}.parquet", 0, 10) for i in range(6)]
    expected = [
        [("f0.parquet", 0), ("f4.parquet", 0)],
        [("f1.parquet", 0), ("f5.parquet", 0)],
        [("f2.parquet", 0)],
        [("f3.parquet", 0)],
    ]
    assert _place_shards(equal, 4) == _place_shards(list(equal), 4) == expected

    for m in (1, 3, 8):
        parts = spark.range(m, numPartitions=m).rdd.glom().collect()
        assert [[r.id for r in rows] for rows in parts] == [[i] for i in range(m)]
