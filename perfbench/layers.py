"""Per-layer measurements of a traced run that are not spans around an op.

* ``core_sweep``: single-core, in-process throughput of each per-item layer
  on one shard (the median-size row group of the first file) of the
  workload's own input: pyarrow decode, value/key extraction, the HLL
  kernels, the sketch codecs and the other sketches' update paths.
* ``io_sweep``: one small checkpointed build over the same input.
* ``sql_sweep``: the SQL finalizers over a table of blobs.
* ``references``: Spark's own ``approx_count_distinct`` and
  ``hll_sketch_agg`` over the same input and key (reported, not gated).
"""

from __future__ import annotations

import glob
import os
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

from gen import dir_bytes


def rate(fn, items: int, min_s: float = 0.25, max_reps: int = 200) -> float:
    """items per second of ``fn()``, repeated until ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        spent = time.perf_counter() - t0
        if spent >= min_s or reps >= max_reps:
            return items * reps / spent


def _shard(path: str):
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    pf = pq.ParquetFile(files[0])
    sizes = [pf.metadata.row_group(i).num_rows for i in range(pf.metadata.num_row_groups)]
    return pf, int(np.argsort(sizes)[len(sizes) // 2])


def core_sweep(path: str, key: str, p: int) -> tuple[dict, list]:
    """(metrics, the shard's per-key HLL blobs)."""
    from sketchlib.agg import HllAggregator, _extract_values, _group_codes
    from sketchlib.bloom import BloomFilter
    from sketchlib.cms import CountMinSketch
    from sketchlib.hll import HllSketch
    from sketchlib.kernels import DEFAULT_SEED, hll_build_into, hll_hash_index_rank_fast
    from sketchlib.kll import KllSketch

    pf, rg = _shard(path)
    cols = [key, "tokens"]

    def decode():
        return list(pf.iter_batches(batch_size=1024, row_groups=[rg], columns=cols))

    batches = decode()
    extracted = []

    def extract():
        extracted.clear()
        for b in batches:
            values, counts = _extract_values(b, "tokens", "tokens")
            codes, uniq = _group_codes(b, [key])
            extracted.append((values, np.repeat(codes.astype(np.int32), counts), len(uniq)))

    extract()
    items = sum(len(v) for v, _, _ in extracted)
    m = 1 << p
    flat = np.zeros(max(g for _, _, g in extracted) * m, dtype=np.uint8)

    def hash_rank():
        for v, _, _ in extracted:
            hll_hash_index_rank_fast(v, DEFAULT_SEED, p, "tokens")

    def build_into():
        for v, c, g in extracted:
            hll_build_into(flat[: g * m], v, c, DEFAULT_SEED, p, "tokens")

    out = {
        "agg.decode_items_per_s_core": rate(decode, items),
        "agg.extract_items_per_s_core": rate(extract, items),
        "kernels.hash_rank_items_per_s_core": rate(hash_rank, items),
        "kernels.build_into_items_per_s_core": rate(build_into, items),
    }

    # HLL codec on this shard's per-key partial sketches (the task build fn)
    agg = HllAggregator(p=p, key_cols=[key])
    blobs = next(agg._make_build_fn()(iter(batches))).column("sketch").to_pylist()
    sketches = [HllSketch.from_bytes(b) for b in blobs]
    out["hll.to_bytes_per_s"] = rate(lambda: [s.to_bytes() for s in sketches], len(blobs))
    out["hll.from_bytes_per_s"] = rate(lambda: [HllSketch.from_bytes(b) for b in blobs], len(blobs))
    out["hll.merge_blobs_per_s"] = rate(lambda: HllSketch.merge_blobs(blobs, p), len(blobs))
    out["hll.blob_bytes_mean"] = float(np.mean([len(b) for b in blobs]))

    values = np.concatenate([v for v, _, _ in extracted])
    ntok = pf.read_row_group(rg, columns=["n_tok"]).column(0).to_numpy().astype(np.float64)
    cms = CountMinSketch.empty(12, 5)
    out["cms.update_items_per_s_core"] = rate(lambda: cms.update_batch(values, kind="tokens"), len(values))
    cms_blob = cms.to_bytes()
    out["cms.from_bytes_per_s"] = rate(lambda: CountMinSketch.from_bytes(cms_blob), 1)
    kll = KllSketch.empty(200)
    out["kll.update_items_per_s_core"] = rate(lambda: kll.update_batch(ntok), len(ntok))
    kll_blobs = []
    for chunk in np.array_split(ntok, 16):
        s = KllSketch.empty(200)
        s.update_batch(chunk)
        kll_blobs.append(s.to_bytes())
    out["kll.merge_blobs_per_s"] = rate(lambda: KllSketch.merge_blobs(kll_blobs, 200, 0), len(kll_blobs))
    bloom = BloomFilter.empty(20, 7)
    out["bloom.update_items_per_s_core"] = rate(lambda: bloom.update_batch(values, kind="tokens"), len(values))
    probes = values[: 1 << 18]
    out["bloom.contains_per_s"] = rate(lambda: bloom.contains_batch(probes, kind="tokens"), len(probes))
    return out, blobs


def sql_sweep(spark, blobs: list, rows: int = 4096) -> dict:
    """SQL finalizer throughput: ``hll_estimate`` over ``rows`` blobs."""
    from sketchlib import functions

    functions.register(spark)
    reps = -(-rows // len(blobs))
    df = spark.createDataFrame([(b,) for b in (blobs * reps)[:rows]], "sketch binary")
    times = []
    for _ in range(3):
        t = time.perf_counter()
        df.selectExpr("hll_estimate(sketch) AS e").collect()
        times.append(time.perf_counter() - t)
    return {"functions.rows_per_s": rows / median(times)}


def io_sweep(spark, path: str, key: str, p: int, root: str) -> dict:
    """One shard appended to a fresh checkpoint, then the timed calls: the
    pending-shard scan against the existing checkpoint, a second one-shard
    append, and a read of all partials."""
    from sketchlib.agg import HllAggregator
    from sketchlib.io import CheckpointedBuild

    ckpt = CheckpointedBuild(HllAggregator(p=p, key_cols=[key]), ckpt_root=root, run_id="sweep")
    ckpt.run(spark, path, max_shards=1)
    before = dir_bytes(ckpt.ckpt_dir)
    t = time.perf_counter()
    ckpt.pending_shards(spark, path)
    pending_s = time.perf_counter() - t
    t = time.perf_counter()
    done = ckpt.run(spark, path, max_shards=1)
    append_s = time.perf_counter() - t
    added = dir_bytes(ckpt.ckpt_dir) - before
    t = time.perf_counter()
    ckpt.partials(spark).count()
    read_s = time.perf_counter() - t
    return {
        "io.pending_shards_s": pending_s,
        "io.append_s": append_s,
        "io.append_bytes": float(added),
        "io.ckpt_bytes_per_shard": dir_bytes(ckpt.ckpt_dir) / (1 + done),
        "io.read_partials_s": read_s,
    }


def references(spark, path: str, key: str, p: int) -> dict:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select(key, F.explode("tokens").alias("t"))
    out = {}
    t = time.perf_counter()
    df.groupBy(key).agg(F.approx_count_distinct("t", rsd=1.04 / (1 << p) ** 0.5)).collect()
    out["ref.approx_count_distinct_s"] = time.perf_counter() - t
    t = time.perf_counter()
    df.groupBy(key).agg(F.hll_sketch_estimate(F.hll_sketch_agg("t", p))).collect()
    out["ref.hll_sketch_agg_s"] = time.perf_counter() - t
    return out
