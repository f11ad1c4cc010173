"""The benchmark's workloads: their inputs, their ops and the check on every
result.

Why these two (each stresses different layers; see README.md):

* ``build_tokens`` - the flagship per-source HLL build straight from parquet
  (``partials_from_parquet``) over ~132M tokens in row groups whose largest
  is ~10x the median. Per-token layers dominate: pyarrow decode, value and
  key extraction, the hash/rank/scatter-max kernels, and the shard plan's
  straggler tail. The merge is tiny (12 keys).
* ``serve_mixed`` - answers from a checkpointed sketch table (HLL, count-min,
  KLL and Bloom per source): of every 11 ops, 6 are reads through the SQL
  finalizers and the library's finalize path, 4 append a newly arrived
  shard to one of the tables through ``CheckpointedBuild.run``, and 1 is an
  ad-hoc per-bucket HLL over ~5k Zipf bucket keys through the generic
  DataFrame path (Spark scan -> Arrow -> ``mapInArrow``), where per-key
  layers dominate: group codes, sparse blob encoding, the
  shuffle/sort/runs-merge stage and the estimate finalizer. The only
  workload that uses ``io``.

An op is a *build* when it sketches raw input and a *query* when it answers
the client: every HLL build op (build_tokens' ops, serve_mixed's keyed op) is
both, serve_mixed's reads are queries and its appends are builds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from stats import bonferroni_z, hll_tolerance

VOCAB_BITS = 20
SERVE_VOCAB_BITS = 16
KLL_EPS = 0.0165  # documented k=200 rank-error bound (sketchlib/kll.py)
KLL_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def digest(pairs) -> str:
    h = hashlib.sha256()
    for k, v in sorted(pairs, key=lambda kv: str(kv[0])):
        h.update(f"{k}={v};".encode())
    return h.hexdigest()[:16]


def check_hll(rows, key: str, table: gen.Table, p: int) -> tuple[list[str], int]:
    """Per-key HLL estimate within the Bonferroni-corrected bound of the exact
    distinct count, exact row/item counts, and exactly the expected keys.
    Returns (failures, keys beyond the plain 3-sigma band)."""
    index = {k: i for i, k in enumerate(table.keys)}
    fails: list[str] = []
    if len(rows) != len(index) or {r[key] for r in rows} != set(index):
        fails.append(f"key set: got {len(rows)} rows for {len(index)} keys")
    z = bonferroni_z(len(index))
    beyond3 = 0
    for r in rows:
        i = index.get(r[key])
        if i is None:
            continue
        exact = int(table.distinct_by_key[i])
        err = abs(int(r["est"]) - exact)
        if err > hll_tolerance(exact, p, z):
            fails.append(f"hll {r[key]}: est {r['est']} exact {exact}")
        beyond3 += err > hll_tolerance(exact, p, 3.0) - 2.0
        if (r["n_rows"], r["n_items"]) != (table.rows_by_key[i], table.tokens_by_key[i]):
            fails.append(f"counts {r[key]}: {r['n_rows']}/{r['n_items']}")
    return fails, beyond3


class Op:
    """One client request: ``run()`` is the plain call, ``traced(tr, op_id)``
    the same work one layer boundary at a time under spans; both return
    (rows, handles). ``check(rows)`` returns a dict with ``failures`` and
    optionally ``digest`` / ``bytes_per_key``."""

    def __init__(self, label, run, traced, check, build=False, query=False, items=0,
                 after=None):
        self.label, self.run, self.traced, self.check = label, run, traced, check
        self.build, self.query, self.items = build, query, items
        self.after = after  # called once the op and its check are done


# -- build workloads -----------------------------------------------------------


class HllBuild:
    """One op builds, merges and finalizes an HLL over a whole table, keyed
    by one column: straight from parquet (``direct``) or through the
    DataFrame path."""

    cycle = 1

    def __init__(self, table: gen.Table, key: str, p: int, direct: bool,
                 label: str = "hll_build"):
        self.table, self.key, self.p, self.direct = table, key, p, direct
        self.label = label

    def start(self, spark) -> None:
        from sketchlib.agg import HllAggregator

        self.spark = spark
        self.agg = HllAggregator(p=self.p, key_cols=[self.key])
        self.est = self.agg.estimate_udf()

    def plan(self):
        if self.direct:
            return self.agg.partials_from_parquet(self.spark, self.table.path)
        return self.agg.partials(self.spark.read.parquet(self.table.path))

    def finalize(self, merged):
        from pyspark.sql import functions as F

        return merged.select(
            self.key, self.est(F.col("sketch")).alias("est"), "n_rows", "n_items",
            F.sha2("sketch", 256).alias("sha"), F.length("sketch").alias("nbytes"),
        ).collect()

    def run(self):
        return self.finalize(self.agg.merged(self.plan(), is_partials=True)), {}

    def traced(self, tr, op_id):
        with tr.span("plan", op_id):
            planned = self.plan()
        with tr.span("build", op_id):
            partials = planned.localCheckpoint(eager=True)
        with tr.span("merge", op_id):
            merged = self.agg.merged(partials, is_partials=True).localCheckpoint(eager=True)
        with tr.span("finalize", op_id):
            rows = self.finalize(merged)
        # shards = the partitions the library's planner handed to Spark
        return rows, {"partials": partials, "merged": merged,
                      "plan_shards": lambda: planned.rdd.getNumPartitions()}

    def check(self, rows) -> dict:
        fails, beyond3 = check_hll(rows, self.key, self.table, self.p)
        return {
            "failures": fails,
            "beyond_3sigma": beyond3,
            "digest": (self.label, digest((r[self.key], r["sha"]) for r in rows)),
            "bytes_per_key": sum(r["nbytes"] for r in rows) / max(1, len(rows)),
        }

    def op(self, i: int) -> Op:
        return Op(self.label, self.run, self.traced, self.check, build=True,
                  query=True, items=self.table.tokens)

    def warm_up(self, ops: int = 3) -> None:
        """Untimed ops: a fresh session's first op pays ~6 s of Python worker
        and JVM start-up, and the next two still run 10-25% slower than the
        ops after them (measured on a 4-core host)."""
        for _ in range(ops):
            self.run()

    def input(self) -> tuple[str, str, int]:
        """(parquet path, key column, HLL precision) of the raw token input
        the single-core sweeps run on."""
        return self.table.path, self.key, self.p


def build_tokens(work: str, seed: int) -> HllBuild:
    t = gen.tokens_table(os.path.join(work, "tokens"), seed, rows=1_000_000,
                         row_groups=64, n_files=8, vocab_bits=VOCAB_BITS)
    return HllBuild(t, "source", p=14, direct=True)


# -- serve_mixed -------------------------------------------------------------------

# One 11-op cycle: 6 reads over the query set, 4 appends, one per sketch
# table, so a run times every kind of append once per cycle, and one keyed
# HLL build through the DataFrame path.
CYCLE = ("distinct", "append:hll", "cms", "append:cms", "kll",
         "append:kll", "bloom", "append:bloom", "rollup", "distinct", "keyed")
ARRIVALS = 4  # cycle c appends arrival c % ARRIVALS


class ServeMixed:
    key = "source"
    p = 14
    cycle = len(CYCLE)  # runs end on a cycle boundary, so every run has the same op mix

    def __init__(self, work: str, seed: int):
        self.work = work
        rng = np.random.default_rng([seed, 9])
        self.probes = np.unique(rng.integers(0, 1 << SERVE_VOCAB_BITS, 48)).astype(np.int32)
        self.arrivals, self.table, self.with_arrival = gen.serving_tables(
            os.path.join(work, "serve"), seed, base_rows=40_000, base_files=4,
            arrivals=ARRIVALS, arrival_rows=20_000, vocab_bits=SERVE_VOCAB_BITS,
            probes=self.probes,
        )
        keyed = gen.keyed_table(os.path.join(work, "keyed"), seed, rows=30_000, row_groups=4,
                                n_files=4, vocab_bits=VOCAB_BITS, buckets=8_000)
        self.keyed = HllBuild(keyed, "bucket", p=12, direct=False, label="keyed")
        # arrival appended to each sketch table since its last reset (None: base)
        self.appended = {name: None for name in ("hll", "cms", "kll", "bloom")}

    def start(self, spark) -> None:
        from sketchlib import functions
        from sketchlib.agg import (BloomAggregator, CmsAggregator, HllAggregator,
                                   KllAggregator)
        from sketchlib.io import CheckpointedBuild

        self.spark = spark
        functions.register(spark)
        self.aggs = {
            "hll": HllAggregator(p=self.p, key_cols=[self.key]),
            "cms": CmsAggregator(eps=1e-3, key_cols=[self.key]),
            "kll": KllAggregator(key_cols=[self.key]),
            "bloom": BloomAggregator(m_log2=20, k=7, key_cols=[self.key]),
        }
        root = os.path.join(self.work, "ckpt")
        self.ckpts = {n: CheckpointedBuild(a, ckpt_root=root, run_id=n)
                      for n, a in self.aggs.items()}
        # the four initial builds are independent: submit them together
        with ThreadPoolExecutor(len(self.ckpts)) as ex:
            for fut in [ex.submit(c.run, spark, self.table.path) for c in self.ckpts.values()]:
                fut.result()
        self.snapshots = {n: os.path.join(self.work, "ckpt-base", n) for n in self.ckpts}
        for n, c in self.ckpts.items():
            shutil.copytree(c.ckpt_dir, self.snapshots[n])
        self.qs_df = spark.createDataFrame([(q,) for q in KLL_QS], "q double")
        self.cms_eps = np.e / (1 << self.aggs["cms"].width_log2)
        self.finalizers = self._finalizers()
        self.keyed.start(spark)

    def reset(self) -> None:
        """Restore every sketch table to its base checkpoint (untimed, between
        cycles), so each cycle reads and appends to tables of the same size
        however many cycles a run completes."""
        for n, c in self.ckpts.items():
            shutil.rmtree(c.ckpt_dir)
            shutil.copytree(self.snapshots[n], c.ckpt_dir)
            self.appended[n] = None

    def _state(self, name: str):
        """(label, exact answers) of one sketch table as it stands."""
        a = self.appended[name]
        return ("base", self.table) if a is None else (f"a{a}", self.with_arrival[a])

    # reads: a finalize step over the merged sketch rows of one checkpoint

    def _probe_rows(self, name: str, merged):
        """Per-source answers for every probe through the aggregator's
        finalize path (``finalize_rows``), as ``point_estimates`` and
        ``membership`` do: count-min estimates, or Bloom membership.

        Point lookups do not use the SQL ``cms_point``: it hashes probes as
        int64, while a sketch of ``tokens`` hashes int32, so on these
        sketches it reads unrelated counters (it returned estimates below
        the exact count)."""
        from pyspark.sql import types as T
        from sketchlib.bloom import BloomFilter
        from sketchlib.cms import CountMinSketch

        probes = self.probes

        def cms_fn(blob):
            import pandas as pd

            est = CountMinSketch.from_bytes(blob).query_batch(probes, kind="tokens")
            return pd.DataFrame({"value": probes, "est": est.astype("int64")})

        def bloom_fn(blob):
            import pandas as pd

            present = BloomFilter.from_bytes(blob).contains_batch(probes, kind="tokens")
            return pd.DataFrame({"value": probes, "present": present})

        answer = (T.StructField("est", T.LongType(), False) if name == "cms"
                  else T.StructField("present", T.BooleanType(), False))
        fields = [T.StructField("value", T.IntegerType(), False), answer]
        row_fn = cms_fn if name == "cms" else bloom_fn
        return self.aggs[name].finalize_rows(merged, row_fn, fields).collect()

    def _finalizers(self):
        return {
            "distinct": ("hll", lambda m: m.selectExpr(
                "source", "hll_estimate(sketch) AS est", "n_rows", "n_items",
                "sha2(sketch, 256) AS sha").collect()),
            "rollup": ("hll", lambda m: self.aggs["hll"].rollup_total(m).selectExpr(
                "'all' AS source", "hll_estimate(sketch) AS est", "n_rows", "n_items",
                "sha2(sketch, 256) AS sha").collect()),
            "cms": ("cms", lambda m: self._probe_rows("cms", m)),
            "kll": ("kll", lambda m: m.crossJoin(self.qs_df).selectExpr(
                "source", "q", "kll_quantile(sketch, q) AS v",
                "sha2(sketch, 256) AS sha").collect()),
            "bloom": ("bloom", lambda m: self._probe_rows("bloom", m)),
        }

    def _shards(self, ckpt):
        """Shards in a checkpoint table, as the library counts them."""
        return lambda: len(ckpt.completed_shards(self.spark))

    def _read(self, kind: str) -> Op:
        name, finalize = self.finalizers[kind]
        ckpt, agg = self.ckpts[name], self.aggs[name]
        state, table = self._state(name)

        def run():
            return finalize(ckpt.merged(self.spark)), {}

        def traced(tr, op_id):
            with tr.span("read", op_id):
                parts = ckpt.partials(self.spark).drop("shard_id", "wall_secs")
            with tr.span("merge", op_id):
                merged = agg.merged(parts, is_partials=True).localCheckpoint(eager=True)
            with tr.span("finalize", op_id):
                rows = finalize(merged)
            return rows, {"partials": parts, "merged": merged,
                          "plan_shards": self._shards(ckpt)}

        def check(rows):
            return getattr(self, f"_check_{kind}")(rows, table, state)

        return Op(kind, run, traced, check, query=True)

    def _check_distinct(self, rows, table, state):
        fails, beyond3 = check_hll(rows, self.key, table, self.p)
        return {"failures": fails, "beyond_3sigma": beyond3,
                "digest": (f"hll@{state}", digest((r["source"], r["sha"]) for r in rows))}

    def _check_rollup(self, rows, table, state):
        whole = gen.Table(path="", files=0, row_groups=0, rows=0, tokens=0, bytes=0,
                          rg_rows=[], keys=["all"], rows_by_key=[table.rows],
                          tokens_by_key=[table.tokens], distinct_by_key=[table.distinct_total])
        fails, beyond3 = check_hll(rows, "source", whole, self.p)
        return {"failures": fails, "beyond_3sigma": beyond3,
                "digest": (f"rollup@{state}", digest((r["source"], r["sha"]) for r in rows))}

    def _check_cms(self, rows, table, state):
        index = {k: i for i, k in enumerate(table.keys)}
        col = {int(v): j for j, v in enumerate(self.probes)}
        fails = []
        if len(rows) != len(index) * len(col):
            fails.append(f"cms rows {len(rows)}")
        for r in rows:
            i, j = index[r["source"]], col[r["value"]]
            exact = int(table.probe_counts[i, j])
            slack = self.cms_eps * int(table.tokens_by_key[i])
            if not exact <= r["est"] <= exact + slack:
                fails.append(f"cms {r['source']}/{r['value']}: est {r['est']} exact {exact}")
        return {"failures": fails,
                "digest": (f"cms@{state}", digest(((r["source"], r["value"]), r["est"]) for r in rows))}

    def _check_kll(self, rows, table, state):
        index = {k: i for i, k in enumerate(table.keys)}
        fails = []
        if len(rows) != len(index) * len(KLL_QS):
            fails.append(f"kll rows {len(rows)}")
        for r in rows:
            a = table.ntok_by_key[index[r["source"]]]
            lo = np.searchsorted(a, r["v"], "left") / len(a)
            hi = np.searchsorted(a, r["v"], "right") / len(a)
            if not lo - KLL_EPS <= r["q"] <= hi + KLL_EPS:
                fails.append(f"kll {r['source']} q={r['q']}: rank [{lo:.4f}, {hi:.4f}]")
        return {"failures": fails,
                "digest": (f"kll@{state}", digest((r["source"], r["sha"]) for r in rows))}

    def _check_bloom(self, rows, table, state):
        index = {k: i for i, k in enumerate(table.keys)}
        col = {int(v): j for j, v in enumerate(self.probes)}
        fails = []
        if len(rows) != len(index) * len(col):
            fails.append(f"bloom rows {len(rows)}")
        for r in rows:
            if table.probe_counts[index[r["source"]], col[r["value"]]] > 0 and not r["present"]:
                fails.append(f"bloom false negative {r['source']}/{r['value']}")
        return {"failures": fails,
                "digest": (f"bloom@{state}", digest(((r["source"], r["value"]), r["present"]) for r in rows))}

    def _append(self, name: str, arrival: int) -> Op:
        """Append one arrival to one sketch table."""
        ckpt = self.ckpts[name]
        path = self.arrivals[arrival]
        items = self.with_arrival[arrival].tokens - self.table.tokens

        def run():
            return ckpt.run(self.spark, path), {}

        def traced(tr, op_id):
            with tr.span("plan", op_id):
                ckpt.pending_shards(self.spark, path)
            with tr.span("build", op_id):
                done = ckpt.run(self.spark, path)
            return done, {"plan_shards": self._shards(ckpt)}

        def check(done):
            return {"failures": [] if done == 1 else [f"append {name}: {done} shards"]}

        def after():
            self.appended[name] = arrival

        return Op(f"append_{name}", run, traced, check, build=True, items=items, after=after)

    def op(self, i: int) -> Op:
        if i % self.cycle == 0:
            self.reset()
        kind = CYCLE[i % self.cycle]
        if kind == "keyed":
            return self.keyed.op(i)
        if kind.startswith("append:"):
            return self._append(kind.split(":")[1], (i // self.cycle) % ARRIVALS)
        return self._read(kind)

    def warm_up(self) -> None:
        """Each read once (together), one append per table, which also warms
        the read of an existing checkpoint that every append does, and two
        keyed builds (the first DataFrame-path op of a session runs slow)."""
        kinds = ("distinct", "cms", "kll", "bloom", "rollup")
        with ThreadPoolExecutor(len(kinds)) as ex:
            for fut in [ex.submit(self._read(k).run) for k in kinds]:
                fut.result()
        for name in self.appended:
            self._append(name, 0).run()
        self.keyed.warm_up(2)

    def input(self) -> tuple[str, str, int]:
        """The keyed table: the single-core sweeps then time the HLL codec on
        its mix of sparse and dense blobs."""
        return self.keyed.input()


WORKLOADS = {
    "build_tokens": build_tokens,
    "serve_mixed": ServeMixed,
}
