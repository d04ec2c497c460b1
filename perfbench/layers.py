"""Per-layer numbers for the traced run.

Three sources, all read from outside the engine:

- a single-process replay of the public per-stripe layer functions over
  the exact stripes a traced encode wrote (same stripe boundaries, same
  column order as ``encode_stage``), plus ``decode_frame`` over the
  stored blobs;
- Spark's event log, attributed to operations by job group and to
  engine calls by the span that was open when each job was submitted;
- the engine's own ledger (``pipeline.read_stripes``).
"""

from __future__ import annotations

import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc

from . import tracing

CODECS = ("fsst", "dict", "prefix", "rle_auto", "alp", "xorf", "raw")
SUMMARIES = (
    ("codecs.checksum_ms", "checksum"),
    ("zonemap.zone_stats_ms", "zone"),
    ("zonemap.bloom_build_ms", "bloom"),
    ("ndv.hll_ms", "hll"),
    ("quantiles.qsketch_ms", "qsk"),
    ("vcounts.value_counts_ms", "vcs"),
)
OP_KINDS = ("encode", "decode", "lookup", "range")

PER_LAYER_NAMES = (
    [f"codecs.encode_ms.{c}" for c in CODECS]
    + ["codecs.frame_compress_ms"]
    + [f"codecs.decode_ms.{c}" for c in CODECS]
    + ["selector.choose_codec_ms"]
    + [name for name, _ in SUMMARIES]
    + ["encode.codec_ms", "encode.summary_ms"]
    + ["codecs.attempts_per_stripe"]
    + [f"codecs.ratio.{c}" for c in CODECS]
    + ["encode.task_s", "encode.boundary_s",
       "encode.kernel_mb_s_1core", "encode.kernel_mb_s_ncore",
       "encode.kernel_scaling_eff"]
    + ["skew.shuffle_write_bytes", "skew.shuffle_write_ms",
       "skew.fetch_wait_ms", "skew.spill_bytes",
       "storage.stripe_write_s", "storage.bytes_written"]
    + ["pipeline.driver_s", "pipeline.jobs_per_op"]
    + [f"pipeline.driver_s.{k}" for k in OP_KINDS]
    + [f"pipeline.jobs_per_op.{k}" for k in OP_KINDS]
    + ["lineage.ledger_s"]
    + ["zonemap.prune_plan_ms", "zonemap.groups_kept_frac",
       "zonemap.bloom_useful_frac", "decode.blob_bytes_read"]
    + ["pipeline.rows_from_metadata_frac", "pipeline.mixed_groups_decoded"]
    + ["decode.task_s", "decode.boundary_s", "spark.gc_ms"]
    + ["trace.overhead_s", "trace.unattributed_frac.encode",
       "trace.unattributed_frac.decode"]
)


def unit(name: str) -> str:
    if name.endswith("_ms") or ".encode_ms." in name or ".decode_ms." in name:
        return "ms"
    if "mb_s" in name:
        return "MB/s"
    if name.endswith("_s") or "driver_s." in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if (name.endswith(("_frac", "_eff")) or ".ratio." in name
            or "unattributed" in name):
        return "ratio"
    return "count"


# ------------------------------------------------------------- replay


def replay(stripes: pa.Table, chains: dict[str, list[str]],
           compression: str = "zlib", level: int = 1) -> dict[str, float]:
    """Re-run the per-stripe layer functions over a run's stripes.

    ``stripes`` is the run's ledger with blobs (``read_stripes``); each
    stripe's input column is recovered exactly by ``decode_frame`` on
    its blob. Returns milliseconds per layer name, summed over stripes.
    """
    from orc_spark.codecs import framing
    from orc_spark.engine import ndv, quantiles, selector, vcounts, zonemap

    ms: dict[str, float] = defaultdict(float)
    rows = stripes.filter(pc.not_equal(stripes["codec"], "stats"))
    rows = rows.select(
        ["partition_id", "epoch", "stripe_idx", "column", "codec", "data"]
    ).to_pylist()
    # encode_stage order: partition by partition, stripe by stripe,
    # columns sorted; codec state (the fsst table) lives per partition
    rows.sort(key=lambda r: (r["partition_id"], r["epoch"], r["stripe_idx"],
                             r["column"]))
    state: dict[tuple, dict] = {}

    def timed(name: str, fn, *args, **kw):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        ms[name] += (time.perf_counter() - t0) * 1e3
        return out

    for r in rows:
        blob = r["data"]
        arr = timed(f"codecs.decode_ms.{r['codec']}", framing.decode_frame, blob)
        part = (r["partition_id"], r["column"])
        plain = state.setdefault(part + ("plain",), {})
        framed = state.setdefault(part + ("framed",), {})
        order = timed("selector.choose_codec_ms", selector.choose_codec, arr,
                      chains[r["column"]])
        for codec in order:
            t0 = time.perf_counter()
            framing.encode_frame(arr, codec, state=plain)
            t_plain = time.perf_counter() - t0
            ms[f"codecs.encode_ms.{codec}"] += t_plain * 1e3
            t0 = time.perf_counter()
            framing.encode_frame(arr, codec, state=framed,
                                 compression=compression,
                                 compression_level=level)
            t_framed = time.perf_counter() - t0
            ms["codecs.frame_compress_ms"] += (t_framed - t_plain) * 1e3
            if codec == r["codec"]:
                break
        timed("codecs.checksum_ms", framing.column_checksum, arr)
        timed("zonemap.zone_stats_ms", zonemap.stripe_zone_stats, arr)
        timed("zonemap.bloom_build_ms", zonemap.stripe_bloom, arr)
        timed("ndv.hll_ms", ndv.stripe_hll, arr)
        timed("quantiles.qsketch_ms", quantiles.stripe_qsketch, arr)
        timed("vcounts.value_counts_ms", vcounts.stripe_value_counts, arr)
    ms["encode.codec_ms"] = (
        sum(ms[f"codecs.encode_ms.{c}"] for c in CODECS)
        + ms["codecs.frame_compress_ms"] + ms["selector.choose_codec_ms"]
    )
    ms["encode.summary_ms"] = sum(ms[name] for name, _ in SUMMARIES)
    return dict(ms)


def ledger_metrics(stripes: pa.Table) -> dict[str, float]:
    """Codec mix, attempts and stripe status from the ledger."""
    rows = stripes.filter(pc.not_equal(stripes["codec"], "stats"))
    out = {"codecs.attempts_per_stripe": pc.mean(rows["attempts"]).as_py()}
    for c in CODECS:
        sel = rows.filter(pc.equal(rows["codec"], c))
        bo = pc.sum(sel["bytes_out"]).as_py() or 0
        out[f"codecs.ratio.{c}"] = (pc.sum(sel["bytes_in"]).as_py() or 0) / bo if bo else 0.0
    out["_not_completed"] = int(
        pc.sum(pc.not_equal(stripes["status"], "completed")).as_py() or 0
    )
    return out


# ------------------------------------------------------ event-log view


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class OpView:
    """One traced operation: its timed span, child spans and jobs."""

    def __init__(self, span, spans, log) -> None:
        self.span = span
        self.kind = span.name.split(".", 1)[1]
        eps = 0.002  # event-log stamps are whole milliseconds
        self.jobs = [
            j for j in log.jobs_in(f"op{span.op}")
            if span.start - eps <= j.start <= span.end + eps
        ]
        self.job_iv = [(j.start, j.end or span.end) for j in self.jobs]
        self.children = [
            s for s in spans if s.op == span.op and s.id != span.id
            and s.start >= span.start and s.end <= span.end
        ]
        self.log = log
        self.wall = span.end - span.start

    def metrics(self) -> dict[str, float]:
        out = dict.fromkeys(
            ("run_ms", "gc_ms", "shuffle_write_bytes", "shuffle_write_ms",
             "fetch_wait_ms", "spill_bytes", "input_bytes", "output_bytes"),
            0.0,
        )
        for j in self.jobs:
            for k, v in self.log.job_metrics(j).items():
                if k in out:
                    out[k] += v
        return out

    def jobs_s(self) -> float:
        return tracing.union_length(
            tracing.clip(self.job_iv, self.span.start, self.span.end)
        )

    def driver_s(self) -> float:
        """Op wall outside any Spark job."""
        return self.wall - self.jobs_s()

    def span_wall(self, prefix: str) -> float:
        """Wall covered by child spans whose name starts with prefix."""
        iv = [(s.start, s.end) for s in self.children if s.name.startswith(prefix)]
        return tracing.union_length(iv)

    def jobs_under(self, name: str) -> list:
        """Jobs submitted while a span called ``name`` was open."""
        iv = [(s.start, s.end) for s in self.children if s.name == name]
        return [j for j in self.jobs if any(a <= j.start <= b for a, b in iv)]

    def unattributed_s(self) -> float:
        """Op wall in no engine call's driver self time and no job."""
        engine = [s for s in self.children if not s.name.startswith("op.")]
        named = sum(tracing.self_time(s, engine, self.job_iv) for s in engine)
        return max(0.0, self.wall - self.jobs_s() - named)


def op_views(spans, log) -> list[OpView]:
    return [
        OpView(s, spans, log) for s in spans
        if s.name.startswith("op.") and s.op is not None
    ]


def event_metrics(views: list[OpView], replay_ms: dict[str, float],
                  cycles: int) -> dict[str, float]:
    by_kind: dict[str, list[OpView]] = defaultdict(list)
    for v in views:
        by_kind[v.kind].append(v)
    enc, dec = by_kind["encode"], by_kind["decode"]
    out: dict[str, float] = {}
    kernel_s = (replay_ms.get("encode.codec_ms", 0.0)
                + replay_ms.get("encode.summary_ms", 0.0)) / 1e3
    em = [v.metrics() for v in enc]
    out["encode.task_s"] = _mean(m["run_ms"] for m in em) / 1e3
    out["encode.boundary_s"] = out["encode.task_s"] - kernel_s
    out["skew.shuffle_write_bytes"] = _mean(m["shuffle_write_bytes"] for m in em)
    out["skew.shuffle_write_ms"] = _mean(m["shuffle_write_ms"] for m in em)
    out["skew.fetch_wait_ms"] = _mean(m["fetch_wait_ms"] for m in em)
    out["skew.spill_bytes"] = _mean(m["spill_bytes"] for m in em)
    out["storage.bytes_written"] = _mean(m["output_bytes"] for m in em)
    out["storage.stripe_write_s"] = _mean(
        tracing.union_length(
            (j.start, j.end or v.span.end) for j in v.jobs_under("storage.append_table")
        )
        for v in enc
    )
    out["lineage.ledger_s"] = _mean(v.span_wall("lineage.") for v in enc)
    decode_replay_s = sum(
        replay_ms.get(f"codecs.decode_ms.{c}", 0.0) for c in CODECS
    ) / 1e3
    out["decode.task_s"] = _mean(v.metrics()["run_ms"] for v in dec) / 1e3
    out["decode.boundary_s"] = out["decode.task_s"] - decode_replay_s
    main = [v for k in OP_KINDS for v in by_kind[k]]
    out["pipeline.driver_s"] = _mean(v.driver_s() for v in main)
    out["pipeline.jobs_per_op"] = _mean(len(v.jobs) for v in main)
    for k in OP_KINDS:
        out[f"pipeline.driver_s.{k}"] = _mean(v.driver_s() for v in by_kind[k])
        out[f"pipeline.jobs_per_op.{k}"] = _mean(len(v.jobs) for v in by_kind[k])
    look = by_kind["lookup"]
    out["zonemap.prune_plan_ms"] = _mean(
        v.span_wall("zonemap.fused_prune") + v.span_wall("zonemap.prune_stripes")
        for v in look
    ) * 1e3
    out["decode.blob_bytes_read"] = _mean(v.metrics()["input_bytes"] for v in look)
    out["spark.gc_ms"] = sum(v.metrics()["gc_ms"] for v in views) / max(1, cycles)
    for k in ("encode", "decode"):
        out[f"trace.unattributed_frac.{k}"] = _mean(
            v.unattributed_s() / v.wall for v in by_kind[k] if v.wall > 0
        )
    return out


def breakdown(view: OpView, replay_ms: dict[str, float]) -> dict[str, float]:
    """Share of one op's wall per layer: driver time by engine call,
    and job time split by the task-time shares of the replayed kernel
    layers, the shuffle and the remaining boundary."""
    shares: dict[str, float] = defaultdict(float)
    engine = [s for s in view.children if not s.name.startswith("op.")]
    for s in engine:
        shares[f"driver:{s.name}"] += tracing.self_time(s, engine, view.job_iv)
    m = view.metrics()
    task_s = m["run_ms"] / 1e3
    jobs_s = view.jobs_s()
    if task_s > 0:
        if view.kind == "encode":
            keep = {name for name, _ in SUMMARIES}
            keep |= {"codecs.frame_compress_ms", "selector.choose_codec_ms"}
            keep |= {f"codecs.encode_ms.{c}" for c in CODECS}
        else:
            keep = {f"codecs.decode_ms.{c}" for c in CODECS}
        parts = {k: v / 1e3 for k, v in replay_ms.items() if k in keep and v > 0}
        parts["skew.shuffle"] = (m["shuffle_write_ms"] + m["fetch_wait_ms"]) / 1e3
        parts[f"{view.kind}.boundary"] = max(0.0, task_s - sum(parts.values()))
        scale = jobs_s / max(task_s, sum(parts.values()))
        for k, v in parts.items():
            shares[f"jobs:{k}"] += v * scale
    shares["unattributed"] = view.unattributed_s()
    return {k: v / view.wall for k, v in sorted(shares.items()) if v > 0}
