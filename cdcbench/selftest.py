"""Self-test of the benchmark itself. Run from the repository root:

    python3 cdcbench/selftest.py          # checks + every workload, tiny size
    python3 cdcbench/selftest.py --quick  # checks only, no Spark

1. The correctness checks fail when the oracle is perturbed: one key's
   salary changed (final-table digest and analytic read) or one row lost.
2. Inputs are a function of the seed alone.
3. Every workload runs at a tiny size with tracing off and on, and prints
   exactly the metric names of BENCHMARK.json, each with its unit, and
   reports no failed operation.
4. In a directory holding only BENCHMARK.json and the benchmark, the
   command exits non-zero without printing a result.
"""

from __future__ import annotations

import copy
import datetime as dt
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from cdcbench import gen, run, workloads  # noqa: E402


def _engine_rows(state: dict) -> list[tuple]:
    """The replay state shaped like rows collected from the engine."""
    return [
        tuple(
            dt.date.fromisoformat(r[c]) if c == "created_at" else r[c]
            for c in gen.COLUMNS
        )
        for r in state.values()
    ]


def check_perturbations(tmp: str) -> None:
    feed = gen.generate_feed(os.path.join(tmp, "feed"), 5, 500, 100, 4)
    state = gen.replay(feed.batches)
    rows = _engine_rows(state)
    assert workloads.table_matches(rows, state)[0], "table check rejects correct rows"
    bad = copy.deepcopy(state)
    key = next(iter(bad))
    bad[key]["salary"] += 1
    assert not workloads.table_matches(rows, bad)[0], "table check missed a salary change"
    assert not workloads.table_matches(rows[1:], state)[0], "table check missed a lost row"

    read = [
        {"department": d, "n": n, "avg_salary": avg}
        for d, (n, avg) in gen.dept_stats(state).items()
    ]
    assert workloads.dept_matches(read, state), "read check rejects a correct read"
    assert not workloads.dept_matches(read, bad), "read check missed a salary change"


def check_determinism(tmp: str) -> None:
    a = gen.generate_feed(os.path.join(tmp, "a"), 9, 300, 50, 3)
    b = gen.generate_feed(os.path.join(tmp, "b"), 9, 300, 50, 3)
    c = gen.generate_feed(os.path.join(tmp, "c"), 10, 300, 50, 3)
    for fa, fb, fc in zip(a.files, b.files, c.files):
        assert filecmp.cmp(fa, fb, shallow=False), "same seed, different input"
    assert not all(filecmp.cmp(fa, fc, shallow=False) for fa, fc in zip(a.files, c.files))
    assert run.tail(list(range(20))) is None
    assert run.tail(list(range(1, 41))) == {"percentile": 75, "n": 40, "value": 30}


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def check_workloads() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    assert expect[0] == run.END_TO_END and expect[1] == run.PER_LAYER, (
        "BENCHMARK.json and run.py disagree on metric names or units"
    )
    listed = [w["name"] for w in bench["workloads"]]
    assert listed == sorted(workloads.WORKLOADS), "BENCHMARK.json and workloads.py disagree"
    for workload in listed:
        for traced in (0, 1):
            want = expect[traced]
            cmd = [sys.executable, "cdcbench/run.py", "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(traced), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
            res = _result(p.stdout)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{workload} trace={traced}: metrics {sorted(got)}"
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
            print(f"ok  {workload} trace={traced}: {len(got)} metrics, "
                  f"{res['attempted']} checks")


def check_bare_directory(tmp: str) -> None:
    bare = os.path.join(tmp, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "cdcbench"), os.path.join(bare, "cdcbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "cdc_cow_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0, "ran without the engine"
    assert '"metrics"' not in p.stdout, "printed a result without the engine"


def main() -> int:
    quick = "--quick" in sys.argv[1:]
    work = os.path.join(ROOT, ".cdcbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        check_perturbations(tmp)
        print("ok  perturbed oracles are rejected")
        check_determinism(tmp)
        print("ok  inputs depend on the seed alone")
        check_bare_directory(tmp)
        print("ok  a checkout without the engine fails without a result")
        if not quick:
            check_workloads()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
