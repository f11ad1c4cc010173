"""Seeded input generator for the benchmark workloads.

Everything here is numpy + pyarrow only: the program under test sees nothing
but the parquet files written here, and the exact answers the benchmark
checks results against are computed from the same generated arrays, never
by the program.

Rows have the canonical shape ``doc_id string, tokens array<int32>, n_tok
int32, source string`` (the keyed table adds an int32 ``bucket``). Token
arrays hold 8..256 tokens (uniform), sources are Zipf(1.5) over 12 values
like the library's own generator, and token ids are the product of two
uniform 16-bit draws shifted into the vocabulary, which gives a skewed
(log-shaped) frequency curve with a long tail of rare ids.

Each row group is generated from its own ``numpy`` stream keyed by (seed,
table tag, row-group index), so the files are identical for one seed no
matter how the generator threads are scheduled.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_SOURCES = 12
SOURCE_NAMES = pa.array([f"s{k:02d}" for k in range(N_SOURCES)])
MIN_TOK, MAX_TOK = 8, 256
GEN_THREADS = 4


@dataclass
class Table:
    """One generated parquet table plus the exact answers the checks need.

    ``keys`` are the group-key values as Spark returns them (source names,
    or bucket ids); the per-key arrays are aligned with them and hold only
    keys that occur.
    """

    path: str
    files: int
    row_groups: int
    rows: int
    tokens: int
    bytes: int
    rg_rows: list[int]
    keys: list = field(repr=False, default_factory=list)
    rows_by_key: np.ndarray = field(repr=False, default=None)
    tokens_by_key: np.ndarray = field(repr=False, default=None)
    distinct_by_key: np.ndarray = field(repr=False, default=None)
    distinct_total: int = 0
    # serve_mixed only: exact count per (key, probe) and sorted n_tok per key
    probe_counts: np.ndarray = field(repr=False, default=None)
    ntok_by_key: list = field(repr=False, default=None)

    def summary(self) -> dict:
        return {
            "files": self.files,
            "row_groups": self.row_groups,
            "rows": self.rows,
            "tokens": self.tokens,
            "bytes": self.bytes,
            "keys": len(self.keys),
            "rg_rows_max_over_median": round(
                max(self.rg_rows) / float(np.median(self.rg_rows)), 2
            ),
        }


def heavy_tailed_sizes(rows: int, groups: int, ratio: float) -> np.ndarray:
    """Row-group sizes whose largest is ``ratio`` x the median.

    Sizes follow rank^-alpha with alpha fixed by the ratio, in one fixed
    shuffled order: the layout (and so the shard plan's straggler tail) is
    the same for every seed, which keeps the work per run steady; the seed
    changes the rows, not the layout.
    """
    alpha = np.log(ratio) / np.log(groups / 2) if groups > 2 else 0.0
    w = np.arange(1, groups + 1, dtype=np.float64) ** (-alpha)
    np.random.default_rng(0).shuffle(w)
    sizes = np.maximum(1, np.floor(w / w.sum() * rows)).astype(np.int64)
    sizes[np.argmax(sizes)] += rows - sizes.sum()
    return sizes


def bounded_zipf(rng, n: int, domain: int, s: float) -> np.ndarray:
    """n draws of ranks 0..domain-1 with P(rank k) proportional to (k+1)^-s."""
    cdf = np.cumsum(np.arange(1, domain + 1, dtype=np.float64) ** (-s))
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), domain - 1)


def token_ids(rng, n: int, vocab_bits: int) -> np.ndarray:
    """n skewed token ids in [0, 2^vocab_bits) as int32."""
    r = rng.integers(0, 1 << 32, size=n, dtype=np.uint32)
    hi = r >> np.uint32(16)
    r &= np.uint32(0xFFFF)
    r *= hi
    r >>= np.uint32(32 - vocab_bits)
    return r.view(np.int32)


def rows_block(rng, n: int, first_id: int, vocab_bits: int) -> dict:
    """Columns for n canonical rows as numpy arrays (plus offsets)."""
    lengths = rng.integers(MIN_TOK, MAX_TOK + 1, size=n, dtype=np.int32)
    src = np.minimum(rng.zipf(1.5, size=n) - 1, N_SOURCES - 1).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    toks = token_ids(rng, int(offsets[-1]), vocab_bits)
    return {"n": n, "first_id": first_id, "lengths": lengths, "src": src,
            "offsets": offsets, "tokens": toks}


def to_arrow(block: dict, extra: dict | None = None) -> pa.Table:
    ids = pa.array(np.arange(block["first_id"], block["first_id"] + block["n"]))
    doc_id = pc.binary_join_element_wise("doc", ids.cast(pa.string()), "")
    cols = {
        "doc_id": doc_id,
        "tokens": pa.ListArray.from_arrays(
            pa.array(block["offsets"]), pa.array(block["tokens"])
        ),
        "n_tok": pa.array(block["lengths"]),
        "source": pa.DictionaryArray.from_arrays(
            pa.array(block["src"]), SOURCE_NAMES
        ).cast(pa.string()),
    }
    cols.update(extra or {})
    return pa.table(cols)


def token_source_codes(block: dict) -> np.ndarray:
    return np.repeat(block["src"], block["lengths"])


def write_table(path: str, n_files: int, sizes: np.ndarray, seed: int, tag: int,
                make_rg, first_id: int = 0, prefix: str = "part"):
    """Write ``len(sizes)`` row groups over ``n_files`` files.

    ``make_rg(rng, n, first_id) -> (pa.Table, partial)`` builds one row group;
    returns the list of partials in row-group order. Row group i goes to file
    i % n_files; every row group is generated from its own seeded stream.
    """
    os.makedirs(path, exist_ok=True)
    starts = first_id + np.concatenate([[0], np.cumsum(sizes)[:-1]])
    partials: list = [None] * len(sizes)

    def one_file(f: int) -> None:
        writer = None
        try:
            for i in range(f, len(sizes), n_files):
                rng = np.random.default_rng([seed, tag, i])
                table, partials[i] = make_rg(rng, int(sizes[i]), int(starts[i]))
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(path, f"{prefix}-{f:03d}.parquet"), table.schema,
                        compression="snappy", use_dictionary=["source"],
                    )
                writer.write_table(table, row_group_size=table.num_rows)
        finally:
            if writer is not None:
                writer.close()
        # flush now: writeback of freshly written input must not overlap
        # the timed ops
        fd = os.open(os.path.join(path, f"{prefix}-{f:03d}.parquet"), os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    with ThreadPoolExecutor(min(GEN_THREADS, n_files)) as ex:
        for fut in [ex.submit(one_file, f) for f in range(n_files)]:
            fut.result()
    return partials


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _source_facts(block: dict, vocab_bits: int) -> dict:
    """Per-source rows/tokens and a distinct-token bitmap for one block."""
    seen = np.zeros(N_SOURCES << vocab_bits, dtype=bool)
    seen[(token_source_codes(block).astype(np.int64) << vocab_bits) | block["tokens"]] = True
    return {
        "rows": np.bincount(block["src"], minlength=N_SOURCES),
        "tokens": np.bincount(block["src"], weights=block["lengths"],
                              minlength=N_SOURCES).astype(np.int64),
        "seen": seen,
    }


def _fold(parts: list) -> dict:
    """Sum per-row-group facts (bitmaps OR-ed, counts added)."""
    out = {}
    for p in parts:
        for k, v in p.items():
            if k not in out:
                out[k] = v.copy() if isinstance(v, np.ndarray) else list(v)
            elif k == "seen":
                out[k] |= v
            elif k == "ntok":
                out[k] = [np.concatenate([a, b]) for a, b in zip(out[k], v)]
            else:
                out[k] += v
    return out


def _source_table(path, sizes, n_files, facts, nbytes) -> Table:
    """A Table keyed by source name from folded per-source facts."""
    seen = facts["seen"].reshape(N_SOURCES, -1)
    present = np.flatnonzero(facts["rows"])
    t = Table(
        path=path, files=n_files, row_groups=len(sizes), rows=int(facts["rows"].sum()),
        tokens=int(facts["tokens"].sum()), bytes=nbytes, rg_rows=[int(x) for x in sizes],
        keys=[SOURCE_NAMES[i].as_py() for i in present], rows_by_key=facts["rows"][present],
        tokens_by_key=facts["tokens"][present], distinct_by_key=seen.sum(axis=1)[present],
        distinct_total=int(seen.any(axis=0).sum()),
    )
    if "probe_counts" in facts:
        t.probe_counts = facts["probe_counts"][present]
        t.ntok_by_key = [np.sort(facts["ntok"][i]) for i in present]
    return t


def tokens_table(path: str, seed: int, rows: int, row_groups: int, n_files: int,
                 vocab_bits: int, skew_ratio: float = 10.0) -> Table:
    """build_tokens input: heavy-tailed row groups (largest ~ratio x median)."""
    sizes = heavy_tailed_sizes(rows, row_groups, skew_ratio)

    def make_rg(rng, n, first_id):
        block = rows_block(rng, n, first_id, vocab_bits)
        return to_arrow(block), _source_facts(block, vocab_bits)

    parts = write_table(path, n_files, sizes, seed, 1, make_rg)
    return _source_table(path, sizes, n_files, _fold(parts), dir_bytes(path))


def keyed_table(path: str, seed: int, rows: int, row_groups: int, n_files: int,
                vocab_bits: int, buckets: int, bucket_s: float = 1.0) -> Table:
    """serve_mixed's keyed input: an int32 Zipf(bucket_s) ``bucket`` over
    ``buckets`` ids (a seeded permutation, so hot ids differ per seed)."""
    sizes = np.full(row_groups, rows // row_groups, dtype=np.int64)
    sizes[-1] += rows - sizes.sum()
    perm = np.random.default_rng([seed, 2]).permutation(buckets).astype(np.int32)

    def make_rg(rng, n, first_id):
        block = rows_block(rng, n, first_id, vocab_bits)
        bucket = perm[bounded_zipf(rng, n, buckets, bucket_s)]
        pairs = (np.repeat(bucket, block["lengths"]).astype(np.int64) << vocab_bits) | block["tokens"]
        facts = {
            "pairs": np.unique(pairs),
            "rows": np.bincount(bucket, minlength=buckets),
            "tokens": np.bincount(bucket, weights=block["lengths"],
                                  minlength=buckets).astype(np.int64),
        }
        return to_arrow(block, {"bucket": pa.array(bucket)}), facts

    parts = write_table(path, n_files, sizes, seed, 2, make_rg)
    pairs = np.unique(np.concatenate([p["pairs"] for p in parts]))
    distinct = np.bincount(pairs >> vocab_bits, minlength=buckets)
    rows_b = sum(p["rows"] for p in parts)
    tokens_b = sum(p["tokens"] for p in parts)
    present = np.flatnonzero(rows_b)
    return Table(
        path=path, files=n_files, row_groups=len(sizes), rows=int(sizes.sum()),
        tokens=int(tokens_b.sum()), bytes=dir_bytes(path), rg_rows=[int(x) for x in sizes],
        keys=present.tolist(), rows_by_key=rows_b[present], tokens_by_key=tokens_b[present],
        distinct_by_key=distinct[present], distinct_total=int(len(np.unique(pairs & ((1 << vocab_bits) - 1)))),
    )


def serving_tables(root: str, seed: int, base_rows: int, base_files: int,
                   arrivals: int, arrival_rows: int, vocab_bits: int,
                   probes: np.ndarray) -> tuple[list[str], Table, list[Table]]:
    """serve_mixed input: a base table plus ``arrivals`` one-file shards that
    arrive later.

    Returns (arrival file paths, base, with_arrival): ``base`` holds the exact
    answers for the base table alone and ``with_arrival[a]`` those for the
    base plus arrival ``a`` (the workload appends one arrival to a table
    restored to the base). Exact per-source counts are kept for the
    ``probes`` token ids, and the sorted n_tok values per source for the rank
    checks.
    """
    probe_of = np.full(1 << vocab_bits, -1, dtype=np.int64)
    probe_of[probes] = np.arange(len(probes))

    def make_rg(rng, n, first_id):
        block = rows_block(rng, n, first_id, vocab_bits)
        facts = _source_facts(block, vocab_bits)
        hit = probe_of[block["tokens"]]
        ok = hit >= 0
        facts["probe_counts"] = np.bincount(
            token_source_codes(block)[ok] * len(probes) + hit[ok],
            minlength=N_SOURCES * len(probes),
        ).reshape(N_SOURCES, len(probes))
        facts["ntok"] = [block["lengths"][block["src"] == s] for s in range(N_SOURCES)]
        return to_arrow(block), facts

    base_dir = os.path.join(root, "base")
    sizes = np.full(base_files, base_rows // base_files, dtype=np.int64)
    parts = write_table(base_dir, base_files, sizes, seed, 3, make_rg)
    arrival_dir = os.path.join(root, "arrivals")
    parts += write_table(arrival_dir, arrivals, np.full(arrivals, arrival_rows), seed, 4,
                         make_rg, first_id=int(sizes.sum()), prefix="arrival")
    paths = [os.path.join(arrival_dir, f"arrival-{a:03d}.parquet") for a in range(arrivals)]
    facts = _fold(parts[:base_files])
    nbytes = dir_bytes(base_dir)
    base = _source_table(base_dir, sizes, base_files, facts, nbytes)
    with_sizes = np.concatenate([sizes, [arrival_rows]])
    with_arrival = [
        _source_table(base_dir, with_sizes, base_files + 1,
                      _fold([facts, parts[base_files + a]]), nbytes + os.path.getsize(paths[a]))
        for a in range(arrivals)
    ]
    return paths, base, with_arrival
