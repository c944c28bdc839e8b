"""The benchmark's workloads. Each is a closed loop with one client.

Every workload receives a ``Context`` (session, directories, tracer, sizes)
and returns a ``Result``: the timed samples, the checks it made and the
per-layer figures only a traced run can give. Timing never covers a
correctness check; every check counts one attempted operation.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

from . import gen


@dataclass
class Sizes:
    """``samples`` is the number of measured change batches; MOR reads once
    after each, COW twice as many times after the stream drains. Batch 0 of
    a feed is the bootstrap snapshot; it and the next ``warm_batches`` are
    warm-up."""

    samples: int
    keys: int = 0
    batch_events: int = 0
    warm_batches: int = 0
    warm_reads: int = 0
    compact_every: int = 8


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    sizes: Sizes
    tracer: object


@dataclass
class Result:
    """What a workload measured. Times are in seconds unless named ``_ms``."""

    gen_s: float = 0.0
    warmup_s: float = 0.0
    commit_ms: list[float] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    events: int = 0
    ingest_wall_s: float = 0.0
    bytes_created: int = 0
    bytes_input: int = 0
    attempted: int = 0
    failed: int = 0
    checks: list[dict] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    measure_window: tuple[float, float] = (0.0, 0.0)

    def check(self, name: str, ok: bool, **detail) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append({"check": name, "ok": bool(ok), **detail})


#: The Kafka record shape of the generated files, for batch reads.
RECORD_DDL = (
    "key string, value string, topic string, partition int, offset long, "
    "timestamp timestamp"
)


def _dept_query(df):
    from pyspark.sql import functions as F

    return df.groupBy("department").agg(
        F.count(F.lit(1)).alias("n"), F.avg("salary").alias("avg_salary")
    )


def table_matches(rows, state: dict) -> tuple[bool, dict]:
    """Final-table check: row count + order-insensitive digest of the rows
    (tuples in ``gen.COLUMNS`` order) against the plain-Python replay."""
    got = gen.table_digest(
        tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in r)
        for r in rows
    )
    want = gen.oracle_digest(state)
    return got == want, {"rows": got[0], "want_rows": want[0],
                         "digest": got[1], "want_digest": want[1]}


def check_table(res: Result, df, state: dict, label: str) -> None:
    ok, detail = table_matches(df.select(*gen.COLUMNS).collect(), state)
    res.check(label, ok, **detail)


def dept_matches(rows, state: dict) -> bool:
    """Analytic-read check: per-department count and average salary."""
    want = gen.dept_stats(state)
    got = {r["department"]: (r["n"], r["avg_salary"]) for r in rows}
    return set(got) == set(want) and all(
        got[d][0] == want[d][0] and math.isclose(got[d][1], want[d][1], rel_tol=1e-9)
        for d in want
    )


class FileLedger:
    """Tracks parquet data files under a table path: bytes of files that
    appear between two listings (write amplification's numerator)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: dict[str, int] = {}

    def scan(self) -> tuple[int, int, int]:
        """(bytes created since the last scan, live data files, new base
        versions) — a base version is a compaction's output directory."""
        created, live, bases = 0, 0, set()
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, f)
                live += 1
                if p not in self.seen:
                    size = os.path.getsize(p)
                    self.seen[p] = size
                    created += size
                    if "base__commits" in dirpath:
                        bases.add(dirpath)
        return created, live, len(bases)


def _stamp_in_order(files: list[str]) -> None:
    """Give the files strictly increasing modification times one second
    apart: the file source orders a backlog by modification time, and
    files written within one clock tick would otherwise tie."""
    base = time.time() - len(files) - 5
    for i, f in enumerate(files):
        os.utime(f, (base + i, base + i))


def _generate(ctx: Context, res: Result, src: str) -> gen.CdcFeed:
    s = ctx.sizes
    t0 = time.perf_counter()
    with ctx.tracer.span("gen.input"):
        feed = gen.generate_feed(
            src, ctx.seed, s.keys, s.batch_events, s.warm_batches + s.samples
        )
        _stamp_in_order(feed.files)
    res.gen_s = time.perf_counter() - t0
    return feed


def cdc_cow_stream(ctx: Context) -> Result:
    """COW upserts through the streaming pipeline (``hudi_script.py``'s
    intended lifecycle): one file per micro-batch, ``availableNow``. Batch 0
    is the bootstrap snapshot; it and the next ``warm_batches`` are warm-up.
    After the stream drains, the same analytic read as ``cdc_mor_mixed`` runs on
    the COW table: every workload of the benchmark prints every end-to-end
    metric, ``read_ms_p50`` included."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        start_pipeline,
        upsert_batch_processor,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.sources import (
        file_envelope_source,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.table import KeyedTable

    s, tr, res = ctx.sizes, ctx.tracer, Result()
    src, tbl, ckpt = (os.path.join(ctx.work, d) for d in ("src", "table", "ckpt"))
    feed = _generate(ctx, res, src)
    first_measured = 1 + s.warm_batches

    ledger = FileLedger(tbl)
    created: dict[int, int] = {}
    live: dict[int, int] = {}
    fn_s: dict[int, float] = {}
    scan_s: dict[int, float] = {}
    upsert = upsert_batch_processor(tbl, keys=["id"])

    def process(df, batch_id: int) -> None:
        # The listing must see each commit's files before the next commit
        # swaps them out, so it runs inside the trigger; its time is taken
        # out of every figure derived from the trigger's duration.
        t0 = time.perf_counter()
        with tr.span("envelope.processor", batch=batch_id):
            upsert(df, batch_id)
        t1 = time.perf_counter()
        created[batch_id], live[batch_id], _ = ledger.scan()
        fn_s[batch_id] = t1 - t0
        scan_s[batch_id] = time.perf_counter() - t1

    t_start = time.time()
    with tr.span("stream"):
        q = start_pipeline(
            file_envelope_source(ctx.spark, src, max_files_per_trigger=1),
            process,
            ckpt,
            available_now=True,
        )
        q.awaitTermination(600)
    if q.isActive:
        q.stop()
        raise TimeoutError("cdc_cow_stream: stream did not drain")
    if q.exception() is not None:
        raise RuntimeError(f"cdc_cow_stream: stream failed: {q.exception()}")
    progress = {p["batchId"]: p for p in q.recentProgress if p["numInputRows"] > 0}
    measured = range(first_measured, len(feed.files))
    missing = [b for b in range(len(feed.files)) if b not in progress]
    if missing:
        raise RuntimeError(f"cdc_cow_stream: no progress for batches {missing}")

    def trig_start(b):
        return _iso(progress[b]["timestamp"])

    def trig_end(b):
        return trig_start(b) + progress[b]["durationMs"]["triggerExecution"] / 1000

    res.warmup_s = trig_end(first_measured - 1) - t_start
    res.commit_ms = [
        progress[b]["durationMs"]["triggerExecution"] - scan_s[b] * 1000 for b in measured
    ]
    res.events = feed.events(first_measured)
    res.ingest_wall_s = (
        trig_end(measured[-1]) - trig_start(measured[0]) - sum(scan_s[b] for b in measured)
    )
    res.bytes_created = sum(created[b] for b in measured)
    res.bytes_input = sum(feed.input_bytes[first_measured:])
    res.measure_window = (trig_start(measured[0]), trig_end(measured[-1]))

    state = gen.replay(feed.batches)
    table = KeyedTable(ctx.spark, tbl, keys=["id"])
    check_table(res, table.read(), state, "cow.final_table")

    # A COW read is ~8x shorter than a commit: twice the samples keep its
    # median as steady as the commit's.
    for i in range(s.warm_reads + 2 * s.samples):
        t0 = time.perf_counter()
        with tr.span("table.read"):
            rows = _dept_query(table.read()).collect()
        dt_ = time.perf_counter() - t0
        if i < s.warm_reads:
            res.warmup_s += dt_
        else:
            res.read_ms.append(dt_ * 1000)
        res.check("cow.read", dept_matches(rows, state))

    pipe = {k: [] for k in ("overhead", "walCommit", "queryPlanning", "latestOffset")}
    for b in measured:
        d = progress[b]["durationMs"]
        pipe["overhead"].append(d["triggerExecution"] - (fn_s[b] + scan_s[b]) * 1000)
        for k in ("walCommit", "queryPlanning", "latestOffset"):
            pipe[k].append(d.get(k, 0))
    res.layers = {
        "pipeline.overhead_ms": statistics.median(pipe["overhead"]),
        "pipeline.wal_commit_ms": statistics.median(pipe["walCommit"]),
        "pipeline.query_planning_ms": statistics.median(pipe["queryPlanning"]),
        "pipeline.latest_offset_ms": statistics.median(pipe["latestOffset"]),
        "table.files_live": statistics.median(live[b] for b in measured),
        "table.bytes_written": statistics.median(created[b] for b in measured),
    }
    return res


def cdc_mor_mixed(ctx: Context) -> Result:
    """MOR appends with inline compaction, called directly in a loop, with a
    merge-on-read analytic query after every measured batch (after every
    second batch during warm-up). No Structured
    Streaming: ``streaming.pipeline`` changes other than the processor do not
    move it."""
    from debezium_emr_hudi_deltastreamer_sample_spark.streaming.pipeline import (
        mor_batch_processor,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.table import DeltaLogTable

    s, tr, res = ctx.sizes, ctx.tracer, Result()
    src, tbl = (os.path.join(ctx.work, d) for d in ("src", "table"))
    feed = _generate(ctx, res, src)
    first_measured = 1 + s.warm_batches
    process = mor_batch_processor(tbl, keys=["id"], auto_compact_deltas=s.compact_every)
    ledger = FileLedger(tbl)
    state: dict[int, dict] = {}
    pending = 0
    live, pending_at_read, created_per_commit, compactions = [], [], [], 0
    t_setup = time.perf_counter()
    for b, path in enumerate(feed.files):
        is_measured = b >= first_measured
        if b == first_measured:
            res.warmup_s = time.perf_counter() - t_setup
            res.measure_window = (time.time(), 0.0)
        raw = ctx.spark.read.schema(RECORD_DDL).json(path)
        t0 = time.perf_counter()
        with tr.span("envelope.processor", batch=b):
            process(raw, b)
        commit_s = time.perf_counter() - t0
        created, n_live, new_bases = ledger.scan()
        pending = 0 if new_bases else pending + 1
        gen.apply_batch(state, feed.batches[b])
        if not is_measured and b % 2 == 0:
            continue  # warm-up reads only warm the JIT: four are enough
        t0 = time.perf_counter()
        with tr.span("table.read", pending=pending):
            rows = _dept_query(DeltaLogTable(ctx.spark, tbl, keys=["id"]).read()).collect()
        read_s = time.perf_counter() - t0
        res.check("mor.read", dept_matches(rows, state))
        if is_measured:
            res.commit_ms.append(commit_s * 1000)
            res.read_ms.append(read_s * 1000)
            res.events += len(feed.batches[b])
            res.ingest_wall_s += commit_s
            res.bytes_created += created
            res.bytes_input += feed.input_bytes[b]
            live.append(n_live)
            created_per_commit.append(created)
            pending_at_read.append(pending)
            compactions += bool(new_bases)
    res.measure_window = (res.measure_window[0], time.time())
    check_table(res, DeltaLogTable(ctx.spark, tbl, keys=["id"]).read(), state,
                "mor.final_table")
    res.layers = {
        "table.files_live": statistics.median(live),
        "table.bytes_written": statistics.median(created_per_commit),
        "table.pending_deltas": statistics.mean(pending_at_read),
        "table.compactions": compactions,
    }
    return res


def _iso(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "cdc_cow_stream": cdc_cow_stream,
    "cdc_mor_mixed": cdc_mor_mixed,
}
