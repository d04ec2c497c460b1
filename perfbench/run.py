"""Benchmark of the orc_spark engine: one workload per process.

    python3 perfbench/run.py --workload web --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. The workload runs at ``local[N]``
with N = the CPUs this process may use, from one driver with one
client, through the engine's public calls only, and checks every
answer. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``layers.py``). Scratch files live under ``.perfbench_work/`` and are
removed at exit; the traced run leaves its spans and layer breakdown
in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("web", "lineitem")

END_TO_END_UNITS = {
    "setup_s": "s",
    "encode_mb_s": "MB/s",
    "decode_mb_s": "MB/s",
    "compression_ratio": "x",
    "lookup_p50_ms": "ms",
    "range_count_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def host_context(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_used": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def run_end_to_end(bench, seconds: float) -> tuple[dict, dict]:
    from perfbench import tracing, workloads

    t0 = time.perf_counter()
    setup_s = bench.setup()
    t1 = time.perf_counter()
    bench.warm_engine(workloads.WARMUP)
    t2 = time.perf_counter()
    with workloads.RssSampler() as rss:
        walls = bench.run_loop(seconds, workloads.CYCLE)
    t3 = time.perf_counter()
    s = bench.samples
    med = tracing.median
    values = {
        "setup_s": setup_s,
        "encode_mb_s": med(s["encode_mb_s"]),
        "decode_mb_s": med(s["decode_mb_s"]),
        "compression_ratio": med(s["compression_ratio"]),
        "lookup_p50_ms": med(s["lookup_ms"]),
        "range_count_p50_ms": med(s["range_count_ms"]),
        "peak_rss_mb": rss.peak / 1e6,
    }
    context = {
        "phases_s": [t1 - t0, t2 - t1, t3 - t2],
        "cycle_walls_s": walls,
        "samples": {k: [round(x, 3) for x in v] for k, v in s.items()},
        "lookup_tail_ms": tracing.tail_percentile(s["lookup_ms"]),
        "range_count_tail_ms": tracing.tail_percentile(s["range_count_ms"]),
        "failed_frac": bench.failed / bench.attempted,
    }
    metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in values.items()}
    return metrics, context


def install_spans(rec, bench, kept: list) -> None:
    """Wrap the engine's public driver-side calls in spans; each
    lookup's prune call appends (out_dir, predicate, kept-stripes
    DataFrame) to ``kept``."""
    from orc_spark.engine import (
        decode, deletes, encode, lineage, pipeline, selector, skew, storage,
        zonemap,
    )

    for attr in ("run_encode_job", "decode_job", "metadata_count",
                 "read_stripes", "load_run_config"):
        rec.wrap(pipeline, attr)
    rec.wrap(encode, "encode_stage")
    rec.wrap(decode, "decode_stage")
    for attr in ("completed_partitions", "next_epoch", "append_lineage",
                 "read_lineage", "lineage_from_stripes"):
        rec.wrap(lineage, attr)
    rec.wrap(storage, "append_table")
    rec.wrap(storage, "read_table")
    rec.wrap(selector, "plan_for_schema")
    rec.wrap(skew, "salted_repartition")
    rec.wrap(skew, "partition_id_expr")
    for attr in ("read_eq_deletes", "read_delete_vectors", "delete_stats"):
        rec.wrap(deletes, attr)

    def keep(span, args, result):
        pred = args[2] if span.name == "zonemap.fused_prune" else args[1]
        is_lookup = len(pred) == 1 and pred[0][:2] == (bench.spec.key, "==")
        if span.op is not None and result is not None and is_lookup:
            kept.append((bench.out_dir, pred, result))

    rec.wrap(zonemap, "fused_prune", on_result=keep)
    rec.wrap(zonemap, "prune_stripes", on_result=keep)


def prune_usefulness(bench, kept, stripes) -> tuple[float, float]:
    """(kept groups / all groups, groups holding a match / kept groups)
    over the lookups made against the final encoded run."""
    import pyarrow.compute as pc

    from orc_spark.codecs import framing

    gkey = lambda r: (r["partition_id"], r["epoch"], r["stripe_idx"])  # noqa: E731
    all_groups = {gkey(r) for r in stripes.select(
        ["partition_id", "epoch", "stripe_idx"]).to_pylist()}
    keyrows = stripes.filter(pc.equal(stripes["column"], bench.spec.key)).select(
        ["partition_id", "epoch", "stripe_idx", "data"]).to_pylist()
    blobs = {gkey(r): r["data"] for r in keyrows}
    kept_fracs, useful_fracs = [], []
    for out_dir, pred, df in kept:
        if out_dir != bench.out_dir:
            continue
        groups = {gkey(r.asDict()) for r in df.select(
            "partition_id", "epoch", "stripe_idx").distinct().collect()}
        value = pred[0][2]
        hits = sum(
            1 for g in groups
            if value in framing.decode_frame(blobs[g]).to_pylist()
        )
        kept_fracs.append(len(groups) / len(all_groups))
        useful_fracs.append(hits / len(groups) if groups else 0.0)
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    return mean(kept_fracs), mean(useful_fracs)


def run_traced(bench, seconds: float, out_dir: str) -> tuple[dict, dict]:
    from orc_spark.engine import lineage, pipeline, selector

    from perfbench import eventlog, layers, tracing, workloads

    rec = tracing.Recorder()
    kept: list = []

    def tracing_on(on: bool) -> None:
        rec.unwrap_all()
        bench.tracer = rec if on else None
        if on:
            install_spans(rec, bench, kept)

    # one event-logged session; cycles alternate spans off / on, so the
    # overhead compares neighbouring cycles in the same warm session
    ev_dir = os.path.join(bench.workdir, "eventlog")
    try:
        # a short cycle, so an untraced/traced pair fits in one run;
        # encode first, so the lookups of the last cycle read the table
        # whose stripes are harvested below
        cycle = ("encode", "lookup", "range", "decode", "lookup", "range", "kernel")
        bench.setup(event_log=ev_dir)
        bench.warm_engine(workloads.WARMUP + ("kernel",))
        walls = bench.run_loop(
            seconds, cycle, stop_every=2,
            before_cycle=lambda i: tracing_on(i % 2 == 1),
        )
        tracing_on(False)
        spark = bench.spark
        stripes = pipeline.read_stripes(spark, bench.out_dir, "bench").toArrow()
        bad_lineage = lineage.read_lineage(spark, bench.out_dir).filter(
            "status != 'completed'").count()
        kept_frac, useful_frac = prune_usefulness(bench, kept, stripes)
        context = {"host": host_context(spark)}
    finally:
        tracing_on(False)
    bench.stop_session()  # flushes the event log
    log = eventlog.parse(os.path.join(ev_dir, os.listdir(ev_dir)[0]))

    ledger = layers.ledger_metrics(stripes)
    if ledger.pop("_not_completed") or bad_lineage:
        bench.failed += 1
        bench.errors.append("ledger holds stripes that are not completed")
    chains = {
        c: p.chain for c, p in selector.plan_for_schema(bench.table.schema).items()
    }
    replay_ms = layers.replay(stripes, chains)
    views = layers.op_views(rec.spans, log)
    # (traced cycle wall, the untraced cycle before it)
    pairs = [(walls[i], walls[i - 1]) for i in range(1, len(walls), 2)]
    values = {name: 0.0 for name in layers.PER_LAYER_NAMES}
    values.update({k: v for k, v in replay_ms.items() if k in values})
    values.update(ledger)
    values.update(layers.event_metrics(views, replay_ms, len(pairs)))
    s = bench.samples
    values["encode.kernel_mb_s_1core"] = tracing.median(s["kernel_mb_s_1"])
    values["encode.kernel_mb_s_ncore"] = tracing.median(s[f"kernel_mb_s_{bench.n}"])
    eff = tracing.median(s["kernel_s_1"]) / (
        bench.n * tracing.median(s[f"kernel_s_{bench.n}"])
    )
    values["encode.kernel_scaling_eff"] = eff
    if eff > 1.0:  # super-linear scaling means the measurement is broken
        bench.failed += 1
        bench.errors.append(f"encode.kernel_scaling_eff {eff:.3f} > 1.0")
    values["zonemap.groups_kept_frac"] = kept_frac
    values["zonemap.bloom_useful_frac"] = useful_frac
    ranges = bench.details.get("range", [])
    values["pipeline.rows_from_metadata_frac"] = tracing.median(
        [d["rows_from_metadata"] / c for c, d in ranges if c]
    )
    values["pipeline.mixed_groups_decoded"] = tracing.median(
        [d["n_mixed"] for _, d in ranges]
    )
    values["trace.overhead_s"] = sum(t - u for t, u in pairs) / len(pairs)
    breakdowns = {
        kind: next(
            (layers.breakdown(v, replay_ms) for v in reversed(views) if v.kind == kind),
            {},
        )
        for kind in ("encode", "decode")
    }
    context.update(
        cycle_walls_s=walls,
        breakdown=breakdowns,
        replay_ms=replay_ms,
    )
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{bench.spec.name}-seed{bench.seed}")
    rec.dump(stem + "-spans.json")
    with open(stem + "-layers.json", "w") as f:
        json.dump({"metrics": values, "context": context}, f, indent=1, default=str)
    metrics = {k: (v, layers.unit(k)) for k, v in values.items()}
    return metrics, context


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orc_spark", "engine", "pipeline.py")):
        print(f"error: no orc_spark engine under {ROOT}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # every process of the tree (JVM, Python workers, the C compiler)
    # keeps its scratch inside the checkout and imports this engine
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # HotSpot keeps its perf-data file in /tmp whatever the temp dir is
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    bench = None
    try:
        t0 = time.perf_counter()
        bench = workloads.Bench(args.workload, args.seed, workdir)
        gen_s = time.perf_counter() - t0
        if args.trace:
            metrics, context = run_traced(
                bench, args.seconds, os.path.join(ROOT, ".perfbench_out")
            )
        else:
            metrics, context = run_end_to_end(bench, args.seconds)
            context["host"] = host_context(bench.spark)
        context["input_gen_s"] = gen_s
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
    for k, v in context.items():
        if k not in ("breakdown", "replay_ms"):
            print(f"# {k}: {v}")
    for kind, parts in context.get("breakdown", {}).items():
        print(f"# {kind} wall by layer: "
              + ", ".join(f"{k}={v:.3f}" for k, v in parts.items()))
    for err in bench.errors:
        print(f"# error: {err.splitlines()[-1] if err else err}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
