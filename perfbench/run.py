"""sketchlib benchmark: one run of one workload.

    python3 perfbench/run.py --workload build_tokens --seed 1 --seconds 15 --trace 0

Run from the repository root. One client drives a closed loop (the next op
starts only after the previous one returned and was checked) against a
``local[nproc]`` Spark session, for ``--seconds`` of op time after set-up.
Inputs are generated from ``--seed``; every op's result is checked against
exact answers computed from the generated input. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Earlier stdout lines describe the run (seed, input sizes,
sample counts, tail percentiles). Everything the run writes goes under
``.perfbench_work/`` in the current directory.

With ``--trace 1`` the first half of the seconds runs untraced and the
second half traced (spans around each layer call, Spark stage data from
the status REST API); per-layer metrics come from the traced half and the
sweeps in layers.py, and ``trace.overhead.*`` is traced minus untraced.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import PeakRss, check_metric_name, p50, tail  # noqa: E402

TIMED = ("ops_per_s", "query_s_p50", "query_s_tail", "build_s_p50", "build_s_tail",
         "build_items_per_s")


def timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def closed_loop(wl, sc, seconds: float, first: int, tracer=None) -> list[dict]:
    """Run ops back to back until ``seconds`` of op time have passed, the
    workload's op cycle is complete and at least one build op and one query
    op have run."""
    from spark_env import job_counts

    recs: list[dict] = []
    spent, i = 0.0, first
    while (spent < seconds or (i - first) % wl.cycle
           or not any(r["build"] for r in recs) or not any(r["query"] for r in recs)):
        op = wl.op(i)
        op_id = f"op{i}"
        rec = {"i": i, "label": op.label, "build": op.build, "query": op.query,
               "items": op.items, "failures": [], "handles": {}}
        sc.setJobGroup(op_id, op.label)
        t = time.perf_counter()
        try:
            if tracer is None:
                rows, rec["handles"] = op.run()
            else:
                with tracer.span("op", op_id, label=op.label):
                    rows, rec["handles"] = op.traced(tracer, op_id)
            rec["s"] = time.perf_counter() - t
            shards = rec["handles"].pop("plan_shards", None)
            if shards is not None:  # traced ops: counted after the timing
                sc.setJobGroup(f"{op_id}/probe", op.label)
                rec["plan_shards"] = shards()
            rec.update(op.check(rows))
            if op.after is not None:
                op.after()
        except Exception as e:  # a failed op is counted and the loop goes on
            rec.setdefault("s", time.perf_counter() - t)
            rec["failures"].append(f"{type(e).__name__}: {e}"[:300])
        if tracer is None:
            rec["jobs"], rec["stages"], rec["tasks"] = job_counts(sc, op_id)
        spent += rec["s"]
        recs.append(rec)
        i += 1
    return recs


def e2e(recs: list[dict]) -> tuple[dict, dict]:
    """(timed end-to-end metrics, their sample counts / tail percentiles)."""
    builds = [r["s"] for r in recs if r["build"]]
    queries = [r["s"] for r in recs if r["query"]]
    b_tail, b_pct = tail(builds)
    q_tail, q_pct = tail(queries)
    out = {
        "ops_per_s": len(recs) / sum(r["s"] for r in recs),
        "query_s_p50": p50(queries),
        "query_s_tail": q_tail,
        "build_s_p50": p50(builds),
        "build_s_tail": b_tail,
        "build_items_per_s": sum(r["items"] for r in recs if r["build"]) / sum(builds),
    }
    info = {"ops": len(recs), "build_ops": len(builds), "query_ops": len(queries),
            "build_s_tail": b_tail, "build_tail_pct": b_pct,
            "query_s_tail": q_tail, "query_tail_pct": q_pct}
    return out, info


def source_hash(root: str) -> str:
    """Digest of the library's and the benchmark's source trees: runs of
    different code (or of a different input generator) keep separate digest
    stores."""
    h = hashlib.sha256()
    for tree in ("sketchlib", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, tree)):
            dirs.sort()
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for name in sorted(files):
                if name.endswith(".pyc"):
                    continue
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def check_digests(recs: list[dict], store: dict, key_prefix: str) -> None:
    """Same merged-sketch digest across ops of this run and across runs (and
    traced vs untraced) of the same library code for one workload and seed;
    a mismatch fails the op."""
    for r in recs:
        if "digest" not in r:
            continue
        kind, value = r.pop("digest")
        key = f"{key_prefix}/{kind}"
        want = store.setdefault(key, value)
        if want != value:
            r["failures"].append(f"digest {key}: {value} != {want}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sketchlib", "__init__.py")):
        print(f"perfbench: no sketchlib package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_benchmark_spec()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SKETCHLIB_SCRATCH"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    import spark_env

    cores = len(os.sched_getaffinity(0))
    digests_path = os.path.join(base, "digests.json")
    store = {}
    if os.path.exists(digests_path):
        with open(digests_path) as f:
            store = json.load(f)

    spark = None
    layer: dict = {}
    setup: dict = {}
    with PeakRss() as rss:
        t0 = time.perf_counter()
        try:
            # input generation overlaps the JVM start; both are set-up
            with ThreadPoolExecutor(1) as ex:
                made = ex.submit(timed, workloads.WORKLOADS[args.workload], work, args.seed)
                t = time.perf_counter()
                spark = spark_env.start(work, cores, traced=bool(args.trace))
                layer["session.start_s"] = time.perf_counter() - t
                wl, layer["data.gen_s"] = made.result()
            _, setup["start_s"] = timed(wl.start, spark)
            _, setup["warm_up_s"] = timed(wl.warm_up)
            setup_s = time.perf_counter() - t0
            sc = spark.sparkContext
            half = args.seconds / 2 if args.trace else args.seconds
            plain = closed_loop(wl, sc, half, 0)
            recs = plain
            if args.trace:
                import layers
                from spans import Tracer, span_metrics

                tracer = Tracer(sc)
                rest = spark_env.Rest(sc)
                traced = closed_loop(wl, sc, half, len(plain), tracer)
                recs = plain + traced
                layer.update(span_metrics(traced, tracer, rest, cores))
                tracer.write(os.path.join(work, "spans.json"))
                path, key, p = wl.input()
                core, blobs = layers.core_sweep(path, key, p)
                layer.update(core)
                layer.update(layers.sql_sweep(spark, blobs))
                layer.update(layers.io_sweep(spark, wl.table.path, wl.key, wl.p,
                                             os.path.join(work, "io")))
                layer.update(layers.references(spark, path, key, p))
        finally:
            if spark is not None:
                spark_env.stop(spark)
    check_digests(recs, store, f"{args.workload}/{args.seed}/{source_hash(ROOT)}")
    with open(digests_path, "w") as f:
        json.dump(store, f, indent=0, sort_keys=True)

    metrics, info = e2e(plain)
    metrics["setup_s"] = setup_s
    metrics["peak_rss_mb"] = rss.peak / 2**20
    sized = [r["bytes_per_key"] for r in recs if "bytes_per_key" in r]
    metrics["sketch_bytes_per_key"] = median(sized) if sized else 0.0
    failed = sum(1 for r in recs if r["failures"])
    if args.trace:
        t_metrics, _ = e2e(traced)
        for name in TIMED:
            layer[f"trace.overhead.{name}"] = t_metrics[name] - metrics[name]
        n = len(plain)
        layer["spark.jobs_per_op"] = sum(r["jobs"] for r in plain) / n
        layer["spark.stages_per_op"] = sum(r["stages"] for r in plain) / n
        layer["spark.tasks_per_op"] = sum(r["tasks"] for r in plain) / n

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "input": wl.table.summary(),
        "setup": {**{k: layer[k] for k in ("data.gen_s", "session.start_s")}, **setup},
        "samples": info, "op_s": [[r["label"], round(r["s"], 3)] for r in recs], "failures": [f for r in recs for f in r["failures"]][:10],
        "hll_keys_beyond_3sigma": sum(r.get("beyond_3sigma", 0) for r in recs),
        "spark_per_op": {k: sum(r.get(k, 0) for r in plain) / len(plain)
                         for k in ("jobs", "stages", "tasks")},
        **({"layers": layer} if args.trace else {}),
    }))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else metrics
    out = {}
    for m in wanted:
        out[check_metric_name(m["name"])] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
