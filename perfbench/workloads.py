"""The benchmark workloads, run against the program's public API.

``workloads.json`` defines four; ``timer_backlog`` runs by name but is
not in BENCHMARK.json (see its ``dropped`` note there).

Each run: generate the inputs from the seed and compute DuckDB's answer
in a child process (before any timing), set up the Spark session and
warm it up, then measure for ``seconds`` with tracing off, after untimed
full-size operations that let the JIT settle. A traced run then restarts
the session with the event log on and spans recorded, measures again
(B), measures once more untraced (A2), and reports per-layer numbers of
B plus the tracing overhead (B against the mean of the two untraced
phases).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, field

import numpy as np

import check
import gen
from probes import (Tracer, admitted_files, backlog_files_max, epoch_s,
                    eventlog_metrics, heap_after_gc_peak_mb, microbatch_metrics,
                    pct, progress_dicts, progress_spans, state_metrics,
                    tree_cpu_s, tree_peak_rss_mb)

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "workloads.json")) as _f:
    SPEC = json.load(_f)
# metric names and units
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# set-up rounds per run; round 0 also launches the JVM
SETUP_ROUNDS = 3
BATCH_GROUP = "perfbench.batch.exec"
# untimed full-size batch jobs before the timed ones
PRIME_JOBS = 2


def per_layer_names() -> list[str]:
    return [m["name"] for m in BENCH["per_layer"]]


def shape_of(d: dict, base: dict | None = None) -> gen.Shape:
    return gen.Shape(**{**(base or {}), **d})


def write_inputs(name: str, seed: int, work: str) -> None:
    """Write a run's inputs under ``work`` (``data``: the measured
    input, ``warm``: the warm-up input) and ``work/inputs.json`` with
    the event count and DuckDB's answer for ``data``."""
    s = SPEC["workloads"][name]
    info: dict = {"events": 0, "expected": None}
    if "shape" in s:
        shape = shape_of(s["shape"])
        data = os.path.join(work, "data")
        if name == "batch_backfill":
            pair = gen.make_pair(seed, shape)
            gen.write_pair(data, pair)
        else:
            pair = gen.write_backlog(data, seed, shape)
        info = {"events": pair.events,
                "expected": asdict(check.oracle(data, shape.window_s))}
    warm_shape = shape_of(s["warmup_shape"], s.get("shape"))
    warm = os.path.join(work, "warm")
    if name == "batch_backfill":
        gen.write_pair(warm, gen.make_pair(seed + 1, warm_shape))
    else:
        # no flush file: the data batch plus the no-data batch that
        # follows it (watermark moved) warm both the match and the
        # timeout paths
        gen.write_backlog(warm, seed + 1, warm_shape, flush=False)
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump(info, f)


@dataclass
class Phase:
    """What one measurement phase saw."""

    ops: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    eps: list[float] = field(default_factory=list)
    # per operation: latency of each matched row, lag of each timeout row
    lat: list[np.ndarray] = field(default_factory=list)
    lag: list[np.ndarray] = field(default_factory=list)
    progresses: list[list[dict]] = field(default_factory=list)
    checkpoints: list[str] = field(default_factory=list)
    sink: list[tuple] = field(default_factory=list)  # (ms, own_ms, rows)
    written: list[float] = field(default_factory=list)  # input file times
    events: int = 0
    matched: int = 0
    timeouts: int = 0
    cpu_s: float = 0.0
    # read after the operations, before their output checks
    peak_rss_mb: float = 0.0
    heap_peak_mb: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)

    def e2e(self) -> dict[str, float]:
        """Per-operation figures (percentiles over that operation's
        rows), then the median over operations."""
        def med(values):
            return statistics.median(values) if values else 0.0
        return {"throughput_eps": med(self.eps),
                "latency_p50_s": med([pct(x, 50) for x in self.lat]),
                "latency_p99_s": med([pct(x, 99) for x in self.lat]),
                "timeout_lag_p50_s": med([pct(x, 50) for x in self.lag]),
                "timeout_lag_p99_s": med([pct(x, 99) for x in self.lag])}


class AggSink:
    """foreachBatch sink for backlog drains: one aggregate per batch
    (row counts and the pair hash), stamped with its emission time."""

    def __init__(self, tracer: Tracer, trace: str):
        self.tracer, self.trace = tracer, trace
        self.batches: list[tuple[int, float, int, int, int]] = []
        self.timing: list[tuple] = []

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F
        t_in = time.time()
        row = (df.where(F.col("k") >= 0)
               .agg(F.count(F.lit(1)), F.count("r_id"),
                    F.coalesce(F.sum(F.expr(check.PAIR_MIX_SQL)), F.lit(0)))
               .collect()[0])
        t_out = time.time()
        self.batches.append((batch_id, t_out, int(row[0]), int(row[1]),
                             int(row[2])))
        t_end = time.time()
        self.timing.append(((t_end - t_in) * 1e3, (t_end - t_out) * 1e3,
                            int(row[0])))
        self.tracer.add("sink.callback", t_in, t_end, self.trace,
                        batch=batch_id, rows=int(row[0]))


class RowSink:
    """foreachBatch sink for the live run: collects every output row and
    stamps it with the wall time it reached the sink."""

    COLS = ("id", "k", "ts", "r_id", "r_k", "r_ts", "emit")

    def __init__(self, tracer: Tracer, trace: str):
        self.tracer, self.trace = tracer, trace
        self.parts: list[dict[str, np.ndarray]] = []
        self.timing: list[tuple] = []

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F
        t_in = time.time()
        tbl = (df.where(F.col("k") >= 0)
               .select("id", "k", F.unix_micros("ts").alias("ts"),
                       F.coalesce("r_id", F.lit(-1)).alias("r_id"),
                       F.coalesce("r_k", F.lit(-1)).alias("r_k"),
                       F.coalesce(F.unix_micros("r_ts"), F.lit(0)).alias("r_ts"))
               .toArrow())
        t_out = time.time()
        part = {c: tbl.column(c).to_numpy().astype(np.int64)
                for c in self.COLS[:-1]}
        part["emit"] = np.full(tbl.num_rows, t_out)
        self.parts.append(part)
        t_end = time.time()
        self.timing.append(((t_end - t_in) * 1e3, (t_end - t_out) * 1e3,
                            tbl.num_rows))
        self.tracer.add("sink.callback", t_in, t_end, self.trace,
                        batch=batch_id, rows=tbl.num_rows)

    def rows(self) -> dict[str, np.ndarray]:
        return {c: np.concatenate([p[c] for p in self.parts])
                if self.parts else np.zeros(0) for c in self.COLS}


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str,
                 cpus: int):
        self.name = workload
        self.spec = SPEC["workloads"][workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer(False)
        self.spark = None
        self._n = 0
        self.notes: list[str] = []
        self.log_dir: str | None = None
        self.traced_ops = self.traced_failed = self.traced_jobs = 0
        self.traced_errors: list[str] = []

    # -- session ------------------------------------------------------------

    def session(self, cpus: int | None = None) -> None:
        from left_join_on_timeout_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               cpus=cpus or self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")

    def enable_event_log(self) -> str:
        """Restart the session with the Spark event log on (a SparkConf
        reads ``spark.*`` JVM system properties when it is created)."""
        log_dir = self.fresh("eventlog")
        os.makedirs(log_dir)
        system = self.spark._jvm.java.lang.System
        system.setProperty("spark.eventLog.enabled", "true")
        system.setProperty("spark.eventLog.dir", "file://" + log_dir)
        system.setProperty("spark.eventLog.compress", "false")
        self.session()
        return log_dir

    def disable_event_log(self) -> None:
        system = self.spark._jvm.java.lang.System
        for key in ("spark.eventLog.enabled", "spark.eventLog.dir",
                    "spark.eventLog.compress"):
            system.clearProperty(key)
        self.session()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap_children()

    def fresh(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}{self._n}")

    # -- operations ------------------------------------------------------------

    def build_stream(self, base: str, shape: gen.Shape, max_files: int | None):
        from left_join_on_timeout_spark.sources.streams import read_keyed_stream
        l = read_keyed_stream(self.spark, os.path.join(base, "lhs"),
                              gen.SPARK_SCHEMA, max_files_per_trigger=max_files)
        r = read_keyed_stream(self.spark, os.path.join(base, "rhs"),
                              gen.SPARK_SCHEMA, max_files_per_trigger=max_files)
        window_ms = int(shape.window_s * 1000)
        timeout_ms = int(shape.timeout_s * 1000)
        if self.name == "timer_backlog":
            from left_join_on_timeout_spark.streaming.timer_join import (
                left_join_on_timeout_timers)
            return left_join_on_timeout_timers(
                l, r, "k", window_ms, timeout=timeout_ms,
                strict_reference_semantics=False)
        from left_join_on_timeout_spark.streaming.timeout_join import (
            left_join_on_timeout_stream)
        return left_join_on_timeout_stream(l, r, "k", window_ms,
                                           timeout=timeout_ms)

    def drain(self, base: str, shape: gen.Shape, trace: str):
        """One drain of a pre-written backlog through the streaming tier.
        Returns (start time, sink, query progress, checkpoint)."""
        out = self.build_stream(base, shape, self.spec.get("max_files_per_trigger"))
        sink = AggSink(self.tracer, trace)
        ck = self.fresh("ck")
        t0 = time.time()
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return t0, sink, progress_dicts(q), ck

    def batch_job(self, base: str, window_ms: int, trace: str, job_group: str):
        """One batch LEFT JOIN ON TIMEOUT written to the noop sink.
        Returns (start, plan seconds, done, output DataFrame)."""
        from left_join_on_timeout_spark.operators.timeout_join import (
            left_join_on_timeout)
        sc = self.spark.sparkContext
        t0 = time.time()
        l = self.spark.read.parquet(os.path.join(base, "lhs"))
        r = self.spark.read.parquet(os.path.join(base, "rhs"))
        t_plan = time.time()
        with self.tracer.span("batch.plan", trace):
            out = left_join_on_timeout(l, r, "k", window_ms)
        t1 = time.time()
        plan_s = t1 - t_plan
        sc.setJobGroup(job_group, "perfbench batch job")
        try:
            with self.tracer.span("batch.exec", trace):
                out.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup("perfbench.other", "")
        return t0, plan_s, time.time(), out

    # -- workloads -------------------------------------------------------------

    def prepare(self) -> None:
        """Generate inputs and DuckDB's answers in a child process, so
        their memory is not counted as the program's; nothing here is
        timed."""
        subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"),
                        "inputs", self.name, str(self.seed), self.work],
                       check=True)
        with open(os.path.join(self.work, "inputs.json")) as f:
            info = json.load(f)
        s = self.spec
        self.warm_shape = shape_of(s["warmup_shape"], s.get("shape"))
        self.warm_data = os.path.join(self.work, "warm")
        if "shape" in s:
            self.shape = shape_of(s["shape"])
            self.data = os.path.join(self.work, "data")
            self.events = info["events"]
            self.expected = check.Expected(**info["expected"])

    def warmup(self) -> None:
        if self.name == "batch_backfill":
            self.batch_job(self.warm_data, int(self.warm_shape.window_s * 1000),
                           "warmup", "perfbench.warmup")
        else:
            self.drain(self.warm_data, self.warm_shape, "warmup")

    def setup(self) -> float:
        """Median over set-up rounds of (session start + one warm-up
        operation). Round 0 also launches the JVM and warms its JIT, so
        it is the slowest and the median is a warm restart; round 0 is
        reported as the per-layer ``setup.cold_s``."""
        times = []
        for _ in range(SETUP_ROUNDS):
            t = time.time()
            self.session()
            self.warmup()
            times.append(time.time() - t)
        self.notes.append("setup rounds s: " + ", ".join(f"{x:.2f}" for x in times))
        self.setup_times = times
        return statistics.median(times)

    def measure(self, seconds: float, tag: str, min_ops: int = 2,
                prime: bool = True) -> Phase:
        """Repeat the workload's operation for ``seconds`` (at least
        ``min_ops`` times; the live workload runs once for ``seconds``).
        ``prime`` runs untimed full-size operations first."""
        ph = Phase()
        cpu0 = tree_cpu_s(os.getpid())
        try:
            if self.name == "stream_live":
                self._live(ph, seconds, tag, prime)
            elif self.name == "batch_backfill":
                self._batch(ph, seconds, tag, min_ops, prime)
            else:
                self._backlog(ph, seconds, tag, min_ops, prime)
        except Exception as e:  # a crashed operation is a failed one
            ph.ops += 1
            ph.failed += 1
            ph.errors.append(f"{type(e).__name__}: {str(e)[:500]}")
        ph.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        if not ph.peak_rss_mb:
            self._memory(ph)
        return ph

    def _memory(self, ph: Phase) -> None:
        ph.peak_rss_mb = tree_peak_rss_mb(os.getpid())
        # the JVM writes its GC log into the work directory (run.py)
        ph.heap_peak_mb = heap_after_gc_peak_mb(os.path.join(self.work, "gc.log"))

    def _backlog(self, ph: Phase, seconds: float, tag: str, min_ops: int,
                 prime: bool) -> None:
        if prime:
            # one full-size drain first: the tiny set-up drains leave the
            # JIT short of steady state for large batches. Checked, not timed.
            t = time.time()
            self._checked_drain(ph, f"{tag}-prime")
            self.notes.append(f"{tag}: priming drain {time.time() - t:.2f} s")
        start = time.time()
        last = 0.0
        while len(ph.eps) < min_ops or time.time() - start + 0.5 * last < seconds:
            trace = f"{tag}-drain{ph.ops}"
            t0, b, prog, ck, sink = self._checked_drain(ph, trace)
            emitted = b[b[:, 1] > 0]
            last = (emitted[:, 0].max() if len(emitted) else time.time()) - t0
            ph.eps.append(self.events / last)
            ph.lat.append(np.repeat(emitted[:, 0] - t0, emitted[:, 2].astype(int)))
            ph.lag.append(np.repeat(emitted[:, 0] - t0,
                                    (emitted[:, 1] - emitted[:, 2]).astype(int)))
            ph.progresses.append(prog)
            ph.checkpoints.append(ck)
            ph.sink.extend(sink.timing)
            ph.events += self.events
            ph.matched += int(b[:, 2].sum())
            ph.timeouts += int((b[:, 1] - b[:, 2]).sum())
            self._link_sink_spans(prog, trace)

    def _checked_drain(self, ph: Phase, trace: str):
        """Drain the backlog once and check the output against DuckDB.
        Returns (start, per-batch [emit time, rows, matched, hash],
        progress, checkpoint, sink)."""
        t0, sink, prog, ck = self.drain(self.data, self.shape, trace)
        ph.ops += 1
        n, m, h = (sum(x[i] for x in sink.batches) for i in (2, 3, 4))
        b = np.array([x[1:] for x in sink.batches], dtype=float).reshape(-1, 4)
        errs = self.expected.diff(m, n - m, h)
        if errs:
            ph.failed += 1
            ph.errors.extend(f"{trace}: {e}" for e in errs)
        return t0, b, prog, ck, sink

    def _batch(self, ph: Phase, seconds: float, tag: str, min_ops: int,
               prime: bool) -> None:
        window_ms = int(self.shape.window_s * 1000)
        exp = self.expected
        if prime:
            # the JIT needs a few full-size jobs after the small set-up
            # job before the job time settles
            t = time.time()
            for i in range(PRIME_JOBS):
                self.batch_job(self.data, window_ms, f"{tag}-prime{i}",
                               "perfbench.warmup")
            self.notes.append(f"{tag}: {PRIME_JOBS} priming jobs {time.time() - t:.2f} s")
        start = time.time()
        plan, exec_ = [], []
        out = None
        while ph.ops < min_ops or time.time() - start < seconds:
            t0, plan_s, t2, out = self.batch_job(self.data, window_ms,
                                                 f"{tag}-job{ph.ops}", BATCH_GROUP)
            ph.ops += 1
            ph.eps.append(self.events / (t2 - t0))
            ph.lat.append(np.full(exp.matched, t2 - t0))
            ph.lag.append(np.full(exp.timeouts, t2 - t0))
            plan.append(plan_s * 1e3)
            exec_.append((t2 - t0 - plan_s) * 1e3)
            ph.events += self.events
        self._memory(ph)
        # the noop sink keeps nothing, so check one execution of the same
        # plan, outside the timed jobs and their job group
        from pyspark.sql import functions as F
        row = (out.where(F.col("k") >= 0)
               .agg(F.count(F.lit(1)), F.count("r_id"),
                    F.coalesce(F.sum(F.expr(check.PAIR_MIX_SQL)), F.lit(0)))
               .collect()[0])
        n, m, h = int(row[0]), int(row[1]), int(row[2])
        errs = exp.diff(m, n - m, h)
        if errs:
            ph.failed = ph.ops
            ph.errors.extend(errs)
        ph.matched, ph.timeouts = m * ph.ops, (n - m) * ph.ops
        ph.layers.update({"operators.timeout_join.plan_ms": pct(plan, 50),
                          "operators.timeout_join.exec_ms": pct(exec_, 50)})

    def _open_loop(self, seconds: float, seed: int, tag: str):
        """One live query fed by the open-loop generator process for
        ``seconds``, drained and stopped. Returns (input directory, sink,
        query, generator start time, checkpoint)."""
        lv = self.spec["live"]
        base = self.fresh("live")
        for side in ("lhs", "rhs"):
            os.makedirs(os.path.join(base, side))
        shape = shape_of({**self.spec["warmup_shape"], "window_s": lv["window_s"],
                          "timeout_s": lv["timeout_s"]})
        out = self.build_stream(base, shape, None)
        sink = RowSink(self.tracer, tag)
        ck = self.fresh("ck")
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).start())
        start = time.time() + 1.0  # lets the generator process start
        try:
            g = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "live", base,
                 str(seed), str(lv["rate_eps"]), str(lv["tick_s"]),
                 str(seconds), str(lv["keys"]), str(lv["match_share"]),
                 str(lv["window_s"]), repr(start)])
            try:
                rc = g.wait(timeout=seconds + 60)
            finally:
                if g.poll() is None:
                    g.kill()
                    g.wait()
            if rc != 0:
                raise RuntimeError(f"live generator exited with {rc}")
            q.processAllAvailable()
        finally:
            q.stop()
        return base, sink, q, start, ck

    def _live(self, ph: Phase, seconds: float, tag: str, prime: bool) -> None:
        lv = self.spec["live"]
        if prime:
            # an untimed live run first: the set-up drains leave the JIT
            # still compiling, which slows the first seconds of live load
            t = time.time()
            self._open_loop(seconds / 2, self.seed + 2, f"{tag}-prime")
            self.notes.append(f"{tag}: priming live run {time.time() - t:.2f} s")
        base, sink, q, start, ck = self._open_loop(seconds, self.seed, tag)
        prog = progress_dicts(q)
        self._memory(ph)
        with open(os.path.join(base, "gen.json")) as f:
            summary = json.load(f)
        rows = sink.rows()
        lefts, rights = gen.live_events(self.seed, lv["rate_eps"], seconds,
                                        lv["keys"], lv["match_share"], lv["window_s"])
        start_us = int(start * 1e6)
        lefts = (lefts[0], lefts[1], lefts[2] + start_us)
        rights = (rights[0], rights[1], rights[2] + start_us)
        wm_us = int(epoch_s(prog[-1]["eventTime"]["watermark"]) * 1e6)
        errs, due = check.check_live(rows, lefts, rights,
                                     int(lv["window_s"] * 1e6), wm_us)
        ph.ops = 1
        if errs:
            ph.failed = 1
            ph.errors.extend(errs)
        matched = rows["r_id"] >= 0
        ph.lat.append(rows["emit"][matched]
                      - np.maximum(rows["ts"], rows["r_ts"])[matched] / 1e6)
        ph.lag.append(rows["emit"][~matched]
                      - (rows["ts"][~matched] / 1e6 + lv["timeout_s"]))
        ph.eps.append(summary["events"] / (rows["emit"].max() - start)
                      if len(rows["emit"]) else 0.0)
        ph.progresses.append(prog)
        ph.checkpoints.append(ck)
        ph.sink.extend(sink.timing)
        ph.events = summary["events"]
        ph.matched, ph.timeouts = int(matched.sum()), int((~matched).sum())
        late = summary["late_s"]
        ph.layers.update({"gen.late_p99_s": pct(late, 99),
                          "gen.late_max_s": float(max(late, default=0.0))})
        ph.written = summary["written"]
        self.notes.append(
            f"live: {len(rows['id'])} rows ({ph.matched} matched, "
            f"{ph.timeouts} timeouts) over {len(prog)} micro-batches "
            f"(trigger p50 {pct([p['durationMs']['triggerExecution'] for p in prog], 50):.0f} ms, "
            f"addBatch p50 {pct([p['durationMs']['addBatch'] for p in prog], 50):.0f} ms); "
            f"{due} due lefts checked; generator late p99 "
            f"{pct(late, 99) * 1e3:.1f} ms, max {max(late, default=0) * 1e3:.1f} ms")
        if self.tracer.enabled:
            tick = lv["tick_s"]
            for i, end in enumerate(summary["written"][1::2]):
                self.tracer.add("gen.tick", start + (i + 1) * tick, end, tag, tick=i)
        self._link_sink_spans(prog, tag)

    def _link_sink_spans(self, prog: list[dict], trace: str) -> None:
        """Add the trigger-loop spans of a finished query and hang the
        sink callbacks under the trigger of their batch."""
        parents = progress_spans(self.tracer, prog, trace)
        for s in self.tracer.spans:
            if s["trace"] == trace and s["name"] == "sink.callback":
                s["parent"] = parents.get(s["batch"])

    # -- per-layer ---------------------------------------------------------------

    def layers(self, ph: Phase) -> dict[str, float]:
        """Per-layer metrics of a traced phase; layers this workload does
        not exercise read 0."""
        out = {name: 0.0 for name in per_layer_names()}
        prog = [p for q in ph.progresses for p in q]
        if self.name != "batch_backfill" and prog:
            out.update(microbatch_metrics(prog))
            if self.name == "timer_backlog":
                st = state_metrics(prog, "streaming.timer_join")
                out.update({k: v for k, v in st.items() if k in out})
            else:
                out.update(state_metrics(prog, "streaming.timeout_join"))
                out["streaming.timeout_join.matched_rows"] = float(ph.matched)
                out["streaming.timeout_join.timeout_rows"] = float(ph.timeouts)
            # a backlog's files (both sides) are all written before its drain
            written = ph.written or [0.0] * (2 * self.shape.files)
            worst = 0.0
            for q, ck in zip(ph.progresses, ph.checkpoints):
                worst = max(worst, backlog_files_max(q, admitted_files(ck), written))
            out["sources.backlog_files_max"] = worst
        if ph.sink:
            t = np.array(ph.sink, dtype=float)
            out["sink.batch_ms"] = pct(t[:, 0], 50)
            out["sink.own_ms"] = pct(t[:, 1], 50)
            out["sink.rows"] = float(t[:, 2].sum())
        out["gen.events"] = float(ph.events)
        out["proc.cpu_s"] = ph.cpu_s
        out["proc.cpu_s_per_mevent"] = ph.cpu_s / max(ph.events, 1) * 1e6
        out.update({k: v for k, v in ph.layers.items() if k in out})
        return out

    def timer_core_replay(self, add_batch_s_per_drain: float) -> dict[str, float]:
        """Time the workload's rows replayed through ``timer_core`` in
        process, and cross-check that outcome against DuckDB."""
        pair = gen.make_pair(self.seed, self.shape)  # as write_inputs made it
        t0 = time.perf_counter()
        l_out, r_out = check.timer_core_outcome(pair, self.shape.window_s,
                                                self.shape.timeout_s)
        replay_s = time.perf_counter() - t0
        errs = self.expected.diff(int((r_out >= 0).sum()), int((r_out < 0).sum()),
                                  check.pair_hash(l_out, r_out))
        if errs:
            raise RuntimeError("timer_core replay disagrees with DuckDB: "
                               + "; ".join(errs))
        return {"streaming.timer_core.replay_s": replay_s,
                "streaming.timer_core.share": replay_s / add_batch_s_per_drain
                if add_batch_s_per_drain else 0.0}


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant process to end; kill what outlives the
    timeout."""
    from probes import tree_pids
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        kids = [p for p in tree_pids(me) if p != me]
        if not kids:
            return
        for p in kids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def execute(workload: str, seed: int, seconds: float, trace: bool,
            work: str, cpus: int) -> dict:
    """Run one workload; return the result object the CLI prints."""
    run = Run(workload, seed, seconds, work, cpus)
    attempted, failed, errors = 0, 0, []
    metrics: dict[str, float] = {}
    try:
        run.prepare()
        setup_s = run.setup()
        a = run.measure(seconds, "untraced")
        run.notes.append("events/s per operation: "
                         + ", ".join(f"{x:.0f}" for x in a.eps))
        e2e = {**a.e2e(), "setup_s": setup_s, "peak_rss_mb": a.peak_rss_mb,
               "heap_peak_mb": a.heap_peak_mb}
        attempted, failed, errors = a.ops, a.failed, list(a.errors)
        metrics = e2e
        if trace:
            metrics = _traced(run, e2e)
            attempted += run.traced_ops
            failed += run.traced_failed
            errors += run.traced_errors
    except Exception as e:
        attempted = max(attempted, 1)
        failed += 1
        errors.append(f"{type(e).__name__}: {str(e)[:500]}")
    finally:
        run.shutdown()
    if trace and not failed:
        try:
            # the event log is complete once the SparkContext stopped
            log = eventlog_metrics(run.log_dir, BATCH_GROUP, "operators.timeout_join")
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                      "tasks", "gc_ms"):  # per batch job
                log[f"operators.timeout_join.{k}"] /= max(run.traced_jobs, 1)
            if workload == "batch_backfill":
                metrics.update(log)
            spans = os.path.join(os.path.dirname(work), "out",
                                 f"spans-{workload}-{seed}.json")
            run.tracer.dump(spans)
            run.notes.append(f"spans: {len(run.tracer.spans)} written to {spans}")
            metrics["tracing.spans"] = float(len(run.tracer.spans))
        except Exception as e:
            failed += 1
            errors.append(f"{type(e).__name__}: {str(e)[:500]}")
    result = result_object(metrics, trace, failed == 0 and not errors,
                           attempted, failed)
    return {"result": result, "notes": run.notes, "errors": errors}


def result_object(metrics: dict[str, float], trace: bool, ok: bool,
                  attempted: int, failed: int) -> dict:
    """The printed result: every end-to-end metric (or, traced, every
    per-layer metric) of BENCHMARK.json with its unit."""
    listed = BENCH["per_layer" if trace else "end_to_end"]
    return {"correct": bool(ok), "attempted": int(attempted), "failed": int(failed),
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in listed}}


def _traced(run: Run, e2e: dict[str, float]) -> dict[str, float]:
    """Phase B with tracing on, then a second untraced phase A2; returns
    the per-layer metrics of B. The JVM is still getting faster from
    phase to phase, so B is compared with the mean of A and A2.

    stream_backlog adds a single-core baseline of itself. batch_backfill,
    the shortest traced run, also drains the timer_backlog input through
    the exact-timer tier for the ``streaming.timer_*`` layers."""

    def phase(r: Run, tag: str, short: bool = False) -> Phase:
        # phase A left the JIT warm, so no priming drain; the extra
        # phases run one operation or half the time, keeping a traced
        # run well inside the per-run time limit
        ph = (r.measure(run.seconds / 2, tag, 1, prime=False) if short
              else r.measure(run.seconds, tag, prime=False))
        run.traced_ops += ph.ops
        run.traced_failed += ph.failed
        run.traced_errors += ph.errors
        return ph

    run.log_dir = run.enable_event_log()
    run.tracer.enabled = True
    run.warmup()
    b = phase(run, "traced")
    run.traced_jobs = b.ops
    run.tracer.enabled = False
    run.disable_event_log()
    run.warmup()
    a2 = phase(run, "untraced2", short=True)
    out = run.layers(b)
    out["setup.cold_s"] = run.setup_times[0]

    timer, tb = run, b
    if run.name == "batch_backfill":
        timer = Run("timer_backlog", run.seed, run.seconds, run.fresh("timer"),
                    run.cpus)
        os.makedirs(timer.work)
        timer.prepare()
        timer.spark, timer.tracer = run.spark, run.tracer
        run.tracer.enabled = True
        timer.warmup()
        tb = phase(timer, "timer", short=True)
        out.update({k: v for k, v in timer.layers(tb).items()
                    if k.startswith("streaming.timer_join")})
        run.notes.append(f"timer tier: {tb.e2e()['throughput_eps']:.0f} events/s")
    if timer.name == "timer_backlog":
        prog = [p for q in tb.progresses for p in q]
        add_s = sum(p["durationMs"]["addBatch"] for p in prog) / 1e3 / max(tb.ops, 1)
        out.update(timer.timer_core_replay(add_s))
        run.notes.append(f"timer_core share base: {add_s:.3f} s of addBatch per drain")
    if run.name == "stream_backlog":
        run.session(cpus=1)
        run.warmup()
        one = phase(run, "1core", short=True)
        out.update({"scaling.cores": float(run.cpus),
                    "scaling.stream_backlog_eps": e2e["throughput_eps"],
                    "scaling.stream_backlog_1core_eps": one.e2e()["throughput_eps"]})
        run.notes.append(f"scaling: {e2e['throughput_eps']:.0f} events/s on {run.cpus} "
                         f"cores, {out['scaling.stream_backlog_1core_eps']:.0f} on 1")

    head, sign = (("latency_p50_s", 1) if run.name == "stream_live"
                  else ("throughput_eps", -1))
    base = (e2e[head] + a2.e2e()[head]) / 2
    traced = b.e2e()[head]
    out["tracing.overhead_pct"] = sign * (traced - base) / base * 100 if base else 0.0
    run.notes.append(f"tracing overhead on {head}: untraced {e2e[head]:.4g} then "
                     f"{a2.e2e()[head]:.4g}, traced {traced:.4g} "
                     f"({out['tracing.overhead_pct']:+.1f}%)")
    return out


if __name__ == "__main__":
    # python3 perfbench/workloads.py inputs WORKLOAD SEED WORK
    _, cmd, name, seed, work = sys.argv
    if cmd != "inputs":
        sys.exit(f"unknown command {cmd!r}")
    write_inputs(name, int(seed), work)
