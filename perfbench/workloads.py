"""Workloads: Spark session set-up, the timed operations and their
correctness checks.

Every operation goes through the engine's public calls
(``pipeline.run_encode_job``, ``pipeline.decode_job``,
``pipeline.metadata_count``, ``encode.encode_stage``) and is checked
against the generated input outside its own timing.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from . import inputs


@dataclass
class Spec:
    """What a workload encodes and how it queries it."""

    name: str
    key: str  # partition key and point-lookup column
    range_col: str  # timestamp column of the range counts
    sort_keys: list[str]  # unique row order for the decode comparison


# One cycle of the closed loop: lookups, range counts and decodes are
# short and noisy, so they repeat within it; its two encodes sit at its
# ends, so their median spans the host's speed over the whole cycle. The
# traced run appends the kernel pair, whose 1-core and N-core sides swap
# order every cycle.
CYCLE = (("encode",) + ("lookup", "range", "lookup", "range", "decode") * 3
         + ("encode",))
# Unrecorded operations ahead of the loop. A session's operations speed
# up as the JVM compiles their hot paths: each of the first two encodes
# makes the lookups, range counts and decodes after it faster (by up to a
# third in all), and an encode nears its steady time from the third run
# on. So the loop's encodes are the session's third and later ones, and
# its queries run after three encodes.
WARMUP = ("encode", "lookup", "range", "decode", "encode")

SPECS = {
    "web": Spec("web", "url", "warc_ts", ["url"]),
    "lineitem": Spec(
        "lineitem", "l_orderkey", "l_shipdate",
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
         "l_extendedprice", "l_shipdate"],
    ),
}


def make_table(workload: str, seed: int) -> pa.Table:
    if workload == "lineitem":
        return inputs.lineitem_table()
    return inputs.web_table(seed)


# ---------------------------------------------------------------- host


def process_tree() -> dict[int, int]:
    """{pid: parent pid} for this process and every descendant (the
    JVM, the Python worker daemon and its forked workers)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                content = f.read()
            pid = int(content.split(" ", 1)[0])
            ppid = int(content.rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(pid)
    tree, stack = {os.getpid(): os.getppid()}, [os.getpid()]
    while stack:
        p = stack.pop()
        for c in children.get(p, []):
            tree[c] = p
            stack.append(c)
    return tree


def descendant_pids() -> list[int]:
    return list(process_tree())


def pin_tree(cpus: set[int]) -> None:
    """Set the CPU affinity of every thread in the process tree."""
    for pid in descendant_pids():
        for task in glob.glob(f"/proc/{pid}/task/[0-9]*"):
            try:
                os.sched_setaffinity(int(task.rsplit("/", 1)[1]), cpus)
            except OSError:  # thread or process exited meanwhile
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes() -> int:
    """Summed RSS of the process tree. A java child of the JVM is a
    process it is spawning (e.g. Hadoop's shell calls), which shares
    the JVM's memory until it execs, so it is not counted again."""
    tree = process_tree()
    total = 0
    for pid, ppid in tree.items():
        exe = _exe(pid)
        if ppid in tree and exe and exe == _exe(ppid) and "java" in exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the process tree's summed RSS while running."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


# --------------------------------------------------------------- session


class Bench:
    """One workload in one process: its input, Spark session and ops."""

    def __init__(self, workload: str, seed: int, workdir: str) -> None:
        self.spec = SPECS[workload]
        self.seed = seed
        self.workdir = workdir
        self.cpus = sorted(os.sched_getaffinity(0))
        self.n = len(self.cpus)
        self.rng = np.random.default_rng(seed + 1)
        self.table = make_table(workload, seed)
        self.input_dir = os.path.join(workdir, "input")
        inputs.write_parquet(self.table, self.input_dir)
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.details: dict[str, list] = {}
        self.out_dir: str | None = None
        self.tracer = None  # a tracing.Recorder in the traced run
        self.op_id = 0
        self.timed_s = 0.0  # sum of every timed region so far
        self._out_seq = 0
        self._kernel_flip = False
        self._index_truth()

    # -- ground truth ------------------------------------------------
    def _index_truth(self) -> None:
        key = self.table.column(self.spec.key).to_numpy(zero_copy_only=False)
        order = np.argsort(key, kind="stable")
        self._key_sorted = key[order]
        self._key_order = order
        self._keys = key
        ts = self.table.column(self.spec.range_col).cast(pa.int64())
        self._ts_sorted = np.sort(ts.to_numpy())
        self._table_sorted = inputs.sort_by(self.table, self.spec.sort_keys)

    def rows_for_key(self, value) -> pa.Table:
        lo = np.searchsorted(self._key_sorted, value, "left")
        hi = np.searchsorted(self._key_sorted, value, "right")
        return self.table.take(pa.array(np.sort(self._key_order[lo:hi])))

    def count_range(self, lo_us: int, hi_us: int) -> int:
        return int(
            np.searchsorted(self._ts_sorted, hi_us, "left")
            - np.searchsorted(self._ts_sorted, lo_us, "left")
        )

    # -- session -----------------------------------------------------
    def start_session(self, event_log: str | None = None) -> None:
        from pyspark.sql import SparkSession

        local = os.path.join(self.workdir, "spark-local")
        os.makedirs(local, exist_ok=True)
        heap_mb = min(1024, physical_ram_bytes() // (4 << 20))
        b = (
            SparkSession.builder.master(f"local[{self.n}]")
            .appName(f"perfbench-{self.spec.name}")
            .config("spark.driver.memory", f"{heap_mb}m")
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local}")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.workdir, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(max(8, 2 * self.n)))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.eventLog.enabled", "true" if event_log else "false")
            .config("spark.eventLog.compress", "false")
        )
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            b = b.config("spark.eventLog.dir", event_log)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.df = self.spark.read.parquet(self.input_dir)
        self.schema = self.df.schema

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, then wait until every process
        the run started (the JVM and its Python workers) has ended."""
        from pyspark import SparkContext

        self.stop_session()
        children = descendant_pids()[1:]
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(map(_alive, children)):
            time.sleep(0.1)
        for pid in filter(_alive, children):
            os.kill(pid, signal.SIGKILL)

    def setup(self, event_log: str | None = None) -> float:
        """Cold set-up: launch the JVM, start the session and warm every
        worker. Returns its wall time."""
        t0 = time.perf_counter()
        self.start_session(event_log)
        self._warm_workers()
        return time.perf_counter() - t0

    # -- operations --------------------------------------------------
    def _fresh_out(self) -> str:
        self._out_seq += 1
        out = os.path.join(self.workdir, f"run{self._out_seq}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def warm_engine(self, kinds: tuple[str, ...]) -> None:
        """The operations ``kinds`` on the real table, checked but not
        recorded, so the JVM has compiled their hot paths before they
        are timed."""
        for kind in kinds:
            self.op(kind)
        self.samples.clear()
        self.details.clear()

    def _warm_workers(self) -> None:
        """Fork every Python worker and run the stripe kernel once in
        each, on a few rows per core."""
        from pyspark.sql import functions as F

        from orc_spark.engine import encode, pipeline, selector

        small = self.spark.createDataFrame(self.table.slice(0, 256 * self.n))
        small = small.repartition(self.n)
        plans = selector.plan_for_schema(pipeline._arrow_schema(small))
        encode.encode_stage(small, plans, "warm", compression="zlib").agg(
            F.sum("bytes_in")
        ).first()

    def _kernel_job(self, cores: int, kind: str) -> tuple[float, int]:
        """Scan -> encode_stage -> aggregate: the stripe kernel with no
        shuffle and no write, in ``2 * cores`` tasks."""
        from pyspark.sql import functions as F

        from orc_spark.engine import encode, pipeline, selector

        # four scan splits per core, so the coalesce has enough splits at
        # every core count; the engine's own jobs keep the session default
        conf = "spark.sql.files.maxPartitionBytes"
        size = sum(os.path.getsize(p) for p in glob.glob(f"{self.input_dir}/*"))
        df = self.spark.read.parquet(self.input_dir).coalesce(2 * cores)
        plans = selector.plan_for_schema(pipeline._arrow_schema(df))
        stripes = encode.encode_stage(
            df, plans, "kernel", encode.DEFAULT_SIZE_BUDGET, compression="zlib"
        )
        self.spark.conf.set(conf, str(max(1 << 20, size // (4 * self.n))))
        try:
            row, sec = self._timed(kind, lambda: stripes.agg(
                F.sum("bytes_in").alias("bi"),
                F.sum(F.when(F.col("status") != "completed", 1).otherwise(0))
                .alias("bad"),
            ).first())
        finally:
            self.spark.conf.unset(conf)
        if row.bad:
            raise RuntimeError(f"kernel ledgered {row.bad} failed stripes")
        return sec, int(row.bi)

    def op(self, kind: str) -> None:
        """Run one operation of ``kind``; time it, check it, count it."""
        self.attempted += 1
        self.op_id += 1
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(f"op{self.op_id}", kind)
        try:
            ok = getattr(self, f"_op_{kind}")()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            ok = False
            self.errors.append(traceback.format_exc())
            print(self.errors[-1], file=sys.stderr)
        if not ok:
            self.failed += 1

    def _timed(self, kind: str, fn):
        """Run ``fn`` as the timed region of the current operation."""
        ctx = (
            self.tracer.span(f"op.{kind}", self.op_id)
            if self.tracer is not None
            else nullcontext()
        )
        with ctx:
            t0 = time.perf_counter()
            result = fn()
            sec = time.perf_counter() - t0
        self.timed_s += sec
        return result, sec

    def _record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def _op_encode(self) -> bool:
        from pyspark.sql import functions as F

        from orc_spark.engine import lineage, pipeline

        out = self._fresh_out()
        cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="bench", key=self.spec.key)
        res, sec = self._timed(
            "encode", lambda: pipeline.run_encode_job(self.spark, self.df, cfg)
        )
        led = lineage.read_lineage(self.spark, out).agg(
            F.sum("bytes_in").alias("bi"),
            F.sum("bytes_out").alias("bo"),
            F.sum(F.when(F.col("status") != "completed", 1).otherwise(0)).alias("bad"),
        ).first()
        ok = (
            res.partitions_failed == 0
            and res.partitions_encoded == cfg.n_partitions
            and not led.bad
        )
        if not ok:
            self.errors.append(f"encode: {res} ledger bad={led.bad}")
            return False
        if self.out_dir and self.out_dir != out:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self.out_dir = out
        self.bytes_in, self.bytes_out = int(led.bi), int(led.bo)
        self._record("encode_s", sec)
        self._record("encode_mb_s", self.bytes_in / 1e6 / sec)
        self._record("compression_ratio", self.bytes_in / self.bytes_out)
        return True

    def _op_decode(self) -> bool:
        from orc_spark.engine import pipeline

        got, sec = self._timed(
            "decode",
            lambda: pipeline.decode_job(
                self.spark, self.out_dir, "bench", self.schema
            ).toArrow(),
        )
        self._record("decode_s", sec)
        self._record("decode_mb_s", self.bytes_in / 1e6 / sec)
        if not inputs.same_rows(got, self.table, self.spec.sort_keys,
                                self._table_sorted):
            self.errors.append("decode: decoded table differs from the input")
            return False
        return True

    def _op_lookup(self) -> bool:
        from orc_spark.engine import pipeline, zonemap

        value = self._keys[int(self.rng.integers(0, len(self._keys)))]
        value = value.item() if hasattr(value, "item") else value
        pred = [(self.spec.key, "==", value)]
        got, sec = self._timed(
            "lookup",
            lambda: pipeline.decode_job(
                self.spark, self.out_dir, "bench", self.schema, predicate=pred
            )
            .filter(zonemap.predicate_expr(pred))
            .toArrow(),
        )
        self._record("lookup_ms", sec * 1e3)
        if not inputs.same_rows(got, self.rows_for_key(value), self.spec.sort_keys):
            self.errors.append(f"lookup: rows for {value!r} differ from the source")
            return False
        return True

    def _op_range(self) -> bool:
        from orc_spark.engine import pipeline

        lo_all, hi_all = int(self._ts_sorted[0]), int(self._ts_sorted[-1])
        span = (hi_all - lo_all) // 4
        lo = lo_all + int(self.rng.integers(0, hi_all - lo_all - span))
        hi = lo + span
        pred = [
            (self.spec.range_col, ">=", inputs.ts_literal(lo)),
            (self.spec.range_col, "<", inputs.ts_literal(hi)),
        ]
        (count, detail), sec = self._timed(
            "range",
            lambda: pipeline.metadata_count(
                self.spark, self.out_dir, "bench", self.schema, pred
            ),
        )
        self._record("range_count_ms", sec * 1e3)
        self.details.setdefault("range", []).append((count, detail))
        want = self.count_range(lo, hi)
        if count != want:
            self.errors.append(f"range: count {count} != truth {want}")
            return False
        return True

    def _op_kernel(self) -> bool:
        """One interleaved 1-core / N-core pair of the encode kernel."""
        small, large = {self.cpus[-1]}, set(self.cpus)
        order = [(1, small), (self.n, large)]
        if self._kernel_flip:
            order.reverse()
        self._kernel_flip = not self._kernel_flip
        try:
            for cores, cpus in order:
                pin_tree(cpus)
                sec, bi = self._kernel_job(cores, f"kernel_{cores}")
                self._record(f"kernel_s_{cores}", sec)
                self._record(f"kernel_mb_s_{cores}", bi / 1e6 / sec)
        finally:
            pin_tree(large)
        return True

    # -- closed loop -------------------------------------------------
    def run_loop(self, seconds: float, cycle: tuple[str, ...],
                 stop_every: int | None = None, before_cycle=None) -> list[float]:
        """Closed loop over ``cycle`` until ``seconds`` of timed
        operations have elapsed (checks are not counted), after at least
        one whole cycle. With ``stop_every`` it stops only after a
        multiple of that many whole cycles. ``before_cycle(i)`` runs
        ahead of cycle i. Returns the wall time of each whole cycle."""
        start = self.timed_s
        walls: list[float] = []
        while True:
            if before_cycle is not None:
                before_cycle(len(walls))
            t0 = time.perf_counter()
            for kind in cycle:
                self.op(kind)
                if stop_every is None and walls and self.timed_s - start >= seconds:
                    return walls
            walls.append(time.perf_counter() - t0)
            at_stop = stop_every is None or len(walls) % stop_every == 0
            if at_stop and self.timed_s - start >= seconds:
                return walls
