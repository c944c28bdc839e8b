"""CDC-ingest benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 cdcbench/run.py --workload cdc_cow_stream --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans around the engine's public functions plus
Spark's status API). The last line of standard output is the result object;
the line before it is a report with the machine, the contamination probe,
sample counts and every correctness check. See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from cdcbench import trace as trace_mod  # noqa: E402
from cdcbench import workloads  # noqa: E402

ENGINE = "debezium_emr_hudi_deltastreamer_sample_spark"

#: Time of one measured operation on the reference machine (4 cores): a COW
#: micro-batch plus its two reads, or a MOR batch plus its read.
#: ``--seconds`` buys ``seconds / NOMINAL_OP_S`` operations.
NOMINAL_OP_S = {"cdc_cow_stream": 1.9, "cdc_mor_mixed": 2.0}
#: Fewest measured COW commits. The benchmark is sized so that 48 runs, JVM
#: start and JIT warm-up included, fit in an hour on a 4-core machine, which
#: caps the samples; a tail percentile above the median needs more than 20
#: (see ``tail``), so tails appear in the report only.
MIN_SAMPLES = 10
#: Discarded change batches after the bootstrap snapshot: the first commits
#: and reads of a JVM run 1.5-3x slower while the JIT warms up, and the first
#: compaction about 1.4x slower than later ones, so MOR warms up over a whole
#: compaction cycle. MOR then measures whole compaction cycles (any 8
#: consecutive batches hold one compaction), so every run reads at the same
#: pending-delta counts: MOR read time follows a sawtooth with them.
COMPACT_EVERY = 8
WARM_BATCHES = {"cdc_cow_stream": 5, "cdc_mor_mixed": COMPACT_EVERY - 1}
#: Table size and change-batch size: the table is 20x a batch, so every COW
#: commit rewrites far more than it receives.
KEYS, BATCH_EVENTS = 20_000, 1_000
#: Driver heap, fixed and touched at start (-Xms = -Xmx, AlwaysPreTouch):
#: the session default of 48 GB does not fit a small machine, and a heap
#: that grows on demand makes resident memory follow the collector's sizing
#: decisions rather than the program. The heap's pages are therefore all
#: resident from the start, and ``peak_rss_mb`` counts the heap at its peak
#: occupancy after a collection instead (see ``memory_mb``).
DRIVER_HEAP_MB = 1024

#: Reference time of the calibration loop below on an idle 4-core machine;
#: a probe more than ``CALIB_FLAG`` times slower, or a host that stole more
#: than ``STEAL_FLAG`` of the CPU time during the run, marks the run
#: contaminated.
CALIB_REF_S = 0.085
CALIB_FLAG = 1.3
STEAL_FLAG = 0.02

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "commit_ms_p50": "ms",
    "read_ms_p50": "ms",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "gen.input_s": "s",
    "warmup_s": "s",
    "pipeline.overhead_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "envelope.parse_ms": "ms",
    "table.upsert_ms": "ms",
    "table.append_ms": "ms",
    "table.compact_ms": "ms",
    "table.compactions": "count",
    "table.read_ms": "ms",
    "table.pending_deltas": "count",
    "table.lease_ms": "ms",
    "table.lease_calls": "count",
    "table.sidecar_ms": "ms",
    "table.sidecar_calls": "count",
    "table.files_live": "count",
    "table.bytes_written": "bytes",
    "fsutil.swap_ms": "ms",
    "fsutil.swap_calls": "count",
    "fsutil.recover_calls": "count",
    "fsutil.publish_calls": "count",
    "fsutil.list_calls": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.busy_frac": "ratio",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.commit_ms_p50": "ms",
    "trace.span_overhead_ms": "ms",
    "op_error_rate": "ratio",
}


def sizes_for(workload: str, seconds: int, tiny: bool = False) -> workloads.Sizes:
    """Sizes of one run. ``tiny`` is the self-test's size: same code paths,
    a handful of samples."""
    if tiny:
        return workloads.Sizes(
            samples=4, keys=2_000, batch_events=100, warm_batches=1,
            warm_reads=1, compact_every=2,
        )
    if workload == "cdc_cow_stream":
        n = max(MIN_SAMPLES, round(seconds / NOMINAL_OP_S[workload]))
    else:
        n = COMPACT_EVERY * max(1, round(seconds / NOMINAL_OP_S[workload] / COMPACT_EVERY))
    return workloads.Sizes(
        samples=n,
        keys=KEYS,
        batch_events=BATCH_EVENTS,
        warm_batches=WARM_BATCHES[workload],
        warm_reads=5 if workload == "cdc_cow_stream" else 0,
        compact_every=COMPACT_EVERY,
    )


# -- statistics ----------------------------------------------------------------


def tail(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples strictly
    beyond it (nearest rank), with its value and n; None when that
    percentile would not lie above the median (20 samples or fewer)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return {"percentile": pct, "n": n, "value": xs[math.ceil(pct * n / 100) - 1]}


# -- machine -------------------------------------------------------------------


def calibrate(reps: int = 3) -> float:
    """Single-thread pure-Python loop, min of ``reps``: its only variance is
    CPU contention from other processes."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(500_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def probe() -> dict:
    calib = calibrate()
    load = os.getloadavg()[0]
    return {
        "load_1m": load,
        "calib_s": calib,
        "calib_ratio": calib / CALIB_REF_S,
        "contaminated": calib / CALIB_REF_S > CALIB_FLAG,
    }


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the machine's CPUs since boot. Steal is
    time a virtual CPU was ready to run but the host ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def filesystem_of(path: str) -> dict:
    """Mount point and filesystem type holding ``path``."""
    path = os.path.realpath(path)
    mount, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, kind = line.split()[1:3]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(mount):
                mount, fstype = mnt, kind
    return {"mount": mount, "fstype": fstype}


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc. ``breakdown``
    is the per-command RSS at the peak sample."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.breakdown: dict[str, int] = {}
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    @staticmethod
    def tree_rss() -> dict[int, tuple[str, int]]:
        """pid → (command, RSS bytes) over this process's tree."""
        parent: dict[int, int] = {}
        rss: dict[int, tuple[str, int]] = {}
        page = os.sysconf("SC_PAGE_SIZE")
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail_ = f.read().rsplit(")", 1)
                fields = tail_.split()
                parent[int(d)] = int(fields[1])
                rss[int(d)] = (head.split("(", 1)[1], int(fields[21]) * page)
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        out: dict[int, tuple[str, int]] = {}
        for pid, entry in rss.items():
            p = pid
            while p not in (0, 1, me) and p in parent:
                p = parent[p]
            if p == me:
                out[pid] = entry
        return out

    def _sample(self) -> None:
        # A process counts from its second sample on: a child the JVM forks
        # to run a shell command shares the JVM's pages until it execs, and
        # would count them twice.
        procs = self.tree_rss()
        steady = {pid: e for pid, e in procs.items() if pid in self._seen}
        self._seen = set(procs)
        total = sum(size for _, size in steady.values())
        if total > self.peak:
            self.peak = total
            self.breakdown = {}
            for comm, size in steady.values():
                self.breakdown[comm] = self.breakdown.get(comm, 0) + size

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


_GC_HEAP = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def heap_after_gc_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection, in MiB, from the
    driver JVM's ``-Xlog:gc`` lines (``GC(7) Pause Young ... 300M->41M(1024M)``)."""
    peak = 0.0
    with open(gc_log) as f:
        for m in _GC_HEAP.finditer(f.read()):
            peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    return peak


def memory_mb(rss_peak: int, heap_mb: int, heap_live_mb: float) -> float:
    """Peak resident memory of the process tree (Python driver and workers,
    the JVM's own native memory) in MB, with the driver's Java heap counted
    at its peak occupancy after a collection rather than at its fixed,
    pre-touched size: a program that keeps more on the heap moves it, the
    collector's use of free heap does not."""
    return (rss_peak - heap_mb * 2**20) / 1e6 + heap_live_mb * 2**20 / 1e6


# -- session -------------------------------------------------------------------


def spark_conf(work: str, heap_mb: int, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spill"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        # No hsperfdata file under /tmp: the run writes only inside its
        # work directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Xlog:gc:file={os.path.join(work, 'gc.log')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM it launched, and wait for it:
    the JVM ends its Python workers on exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


# -- per-layer metrics ---------------------------------------------------------


def spark_totals(tracer, jobs, lo: float, hi: float, roots: set[str]) -> dict:
    """Sums of Spark job metrics over jobs submitted in [lo, hi]: ``all_*``
    over every job, the rest over jobs submitted while a span named in
    ``roots`` (or one of its descendants) was the innermost open span."""
    by_id = {s["id"]: s for s in tracer.spans}
    out = {"all_run_ms": 0.0, "all_jobs": 0, "all_tasks": 0, "jobs": 0, "tasks": 0,
           "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write_bytes": 0, "output_bytes": 0,
           "spill_bytes": 0}
    for job in jobs:
        if job["submit"] is None or not lo <= job["submit"] <= hi:
            continue
        out["all_run_ms"] += job["run_ms"]
        out["all_jobs"] += 1
        out["all_tasks"] += job["tasks"]
        s = tracer.innermost_at(job["submit"])
        while s is not None and s["name"] not in roots:
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s is None:
            continue
        out["jobs"] += 1
        for k in ("tasks", "cpu_ms", "gc_ms", "shuffle_write_bytes", "output_bytes",
                  "spill_bytes"):
            out[k] += job[k]
    return out


def layer_metrics(tracer, res, jobs, session_s: float, cpus: int) -> dict:
    lo, hi = res.measure_window
    spans = tracer.within(lo - 1e-3, hi + 1e-3)
    self_t = tracer.self_times()
    n_commit = max(1, len(res.commit_ms))

    def per_commit(name, what="time"):
        xs = [s for s in spans if s["name"] == name]
        if what == "count":
            return len(xs) / n_commit
        return sum(s["end"] - s["start"] for s in xs) * 1000 / n_commit

    def self_per_commit(name):
        return sum(self_t[s["id"]] for s in spans if s["name"] == name) * 1000 / n_commit

    def mean_ms(name):
        xs = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return statistics.mean(xs) * 1000 if xs else 0.0

    out = {k: 0.0 for k in PER_LAYER}
    out.update({
        "session.start_s": session_s,
        "gen.input_s": res.gen_s,
        "warmup_s": res.warmup_s,
        "envelope.parse_ms": self_per_commit("envelope.processor"),
        "table.upsert_ms": self_per_commit("table.upsert"),
        "table.append_ms": self_per_commit("table.append"),
        "table.compact_ms": mean_ms("table.compact"),
        "table.read_ms": statistics.mean(res.read_ms),
        "table.lease_ms": per_commit("table.lease"),
        "table.lease_calls": per_commit("table.lease", "count"),
        "table.sidecar_ms": per_commit("table.sidecar"),
        "table.sidecar_calls": per_commit("table.sidecar", "count"),
        "fsutil.swap_ms": per_commit("fsutil.swap"),
        "fsutil.swap_calls": per_commit("fsutil.swap", "count"),
        "fsutil.recover_calls": per_commit("fsutil.recover", "count"),
        "fsutil.publish_calls": per_commit("fsutil.publish", "count"),
        "fsutil.list_calls": per_commit("fsutil.list", "count"),
        "trace.commit_ms_p50": statistics.median(res.commit_ms),
        "op_error_rate": res.failed / max(1, res.attempted),
    })
    out.update(res.layers)
    spans_per_commit = sum(1 for s in spans if s["name"] != "table.read") / n_commit
    out["trace.span_overhead_ms"] = trace_mod.span_overhead_s() * spans_per_commit * 1000
    sp = spark_totals(tracer, jobs, lo, hi, {"envelope.processor"})
    out.update({
        "spark.jobs": sp["jobs"] / n_commit,
        "spark.tasks": sp["tasks"] / n_commit,
        "spark.executor_cpu_ms": sp["cpu_ms"] / n_commit,
        "spark.gc_ms": sp["gc_ms"] / n_commit,
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"] / n_commit,
        "spark.output_bytes": sp["output_bytes"] / n_commit,
        "spark.spill_bytes": sp["spill_bytes"] / n_commit,
        "spark.busy_frac": sp["all_run_ms"] / max(1e-9, (hi - lo) * 1000 * cpus),
    })
    return out


# -- main ------------------------------------------------------------------------


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    mem_mb = mem_total_mb()
    heap_mb = DRIVER_HEAP_MB
    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".cdcbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spill", "derby"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spill"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None

    before = probe()
    ticks0 = cpu_ticks()
    tracer = trace_mod.Tracer(bool(args.trace))
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                from debezium_emr_hudi_deltastreamer_sample_spark.session import get_spark

                spark = get_spark(
                    app_name=f"cdcbench-{args.workload}",
                    extra_conf=spark_conf(work, heap_mb, bool(args.trace)),
                )
            session_s = time.perf_counter() - t0
            try:
                tracer.instrument()
                ctx = workloads.Context(
                    spark=spark, work=work, seed=args.seed,
                    sizes=sizes_for(args.workload, args.seconds, args.tiny), tracer=tracer,
                )
                res = workloads.WORKLOADS[args.workload](ctx)
                jobs = trace_mod.SparkCounters(spark).jobs() if args.trace else []
                machine = {
                    "nproc": cpus,
                    "mem_total_mb": mem_mb,
                    "driver_heap_mb": heap_mb,
                    "spark.master": spark.sparkContext.master,
                    "defaultParallelism": spark.sparkContext.defaultParallelism,
                    "spark.version": spark.version,
                    "work_fs": filesystem_of(work),
                }
            finally:
                tracer.restore()
                t_stop = time.perf_counter()
                stop_spark(spark)
                stop_s = time.perf_counter() - t_stop
        heap_live_mb = heap_after_gc_mb(os.path.join(work, "gc.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    after = probe()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

    samples = {
        "commit": {"n": len(res.commit_ms), "tail": tail(res.commit_ms)},
        "read": {"n": len(res.read_ms), "tail": tail(res.read_ms)},
    }
    e2e = {
        "setup_s": session_s + res.gen_s + res.warmup_s,
        "events_per_s": res.events / res.ingest_wall_s,
        "commit_ms_p50": statistics.median(res.commit_ms),
        "read_ms_p50": statistics.median(res.read_ms),
        "write_amp": res.bytes_created / res.bytes_input,
        "peak_rss_mb": memory_mb(rss.peak, heap_mb, heap_live_mb),
    }
    units = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        values = layer_metrics(tracer, res, jobs, session_s, cpus)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        values = e2e
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine": machine,
        "probe": {
            "before": before,
            "after": after,
            "steal_frac": steal,
            "contaminated": before["contaminated"] or after["contaminated"]
            or steal > STEAL_FLAG,
        },
        "sizes": vars(ctx.sizes),
        "samples": samples,
        "setup": {"session_s": session_s, "gen_s": res.gen_s, "warmup_s": res.warmup_s},
        "stop_s": stop_s,
        "memory": {
            "tree_rss_peak_mb": rss.peak / 1e6,
            "rss_by_command_at_peak_mb": {k: v / 1e6 for k, v in rss.breakdown.items()},
            "heap_reserved_mib": heap_mb,
            "heap_after_gc_peak_mib": heap_live_mb,
        },
        "series": {"commit_ms": res.commit_ms, "read_ms": res.read_ms},
        "op_error_rate": res.failed / max(1, res.attempted),
        "failed_checks": [c for c in res.checks if not c["ok"]],
        "checks": len(res.checks),
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test size (cdcbench/selftest.py)")
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
