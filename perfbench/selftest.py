"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Runs every workload once untraced and once traced (seed 1, the
   shortest run) and asserts that the result line is correct and names
   exactly the metrics of BENCHMARK.json, each with its unit, and that
   the printed table shows every one of them with that unit.
2. Asserts that the output checker accepts a real validate output and
   rejects a copy whose violations lost one row or gained a duplicate.
3. Asserts that the benchmark refuses to run, without printing a result,
   in a directory that holds only BENCHMARK.json and the benchmark.

Each cold launch costs about a minute on a 4-core host, so the whole test
takes several minutes; the fixture it needs is cached like a run's.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result_lines(spec: dict) -> None:
    from run import WORKLOADS

    for workload in WORKLOADS:
        for trace in (0, 1):
            r = run_bench(ROOT, workload, trace)
            assert r.returncode == 0, r.stderr[-2000:]
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = spec["per_layer" if trace else "end_to_end"]
            assert list(res["metrics"]) == [m["name"] for m in want]
            table = {ln.split()[0]: ln.split()[2] for ln in lines[:-1]
                     if len(ln.split()) == 3 and not ln.startswith("#")}
            for m in want:
                assert res["metrics"][m["name"]]["unit"] == m["unit"], m
                assert table.get(m["name"]) == m["unit"], m
            assert "failed_frac" in table
            print(f"ok  {workload} trace={trace}: {len(want)} metrics", flush=True)


def _rewrite_one(out: str, mutate) -> None:
    """Apply ``mutate`` to the rows of the first violations file with rows."""
    for path in sorted(glob.glob(f"{out}/violations/*/*.parquet")):
        t = pq.read_table(path)
        if t.num_rows:
            pq.write_table(mutate(t), path)
            return
    raise AssertionError("no violation rows to mutate")


def check_checker() -> None:
    from outputs import check_validate
    from run import N_CONVS

    fixture = os.path.join(ROOT, ".perfbench", "cache", f"fixture_c{N_CONVS}")
    corpus, done = os.path.join(fixture, "corpus"), os.path.join(fixture, "done")
    assert check_validate(corpus, done, resumed=True) == []
    mutations = {
        "one row removed": lambda t: t.slice(1),
        "one row duplicated": lambda t: pa.concat_tables([t, t.slice(0, 1)]),
    }
    for what, mutate in mutations.items():
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
            out = os.path.join(d, "out")
            shutil.copytree(done, out)
            _rewrite_one(out, mutate)
            probs = check_validate(corpus, out, resumed=True)
            assert probs, f"checker accepted violations with {what}"
            print(f"ok  checker rejects {what}: {probs[0]}", flush=True)


def check_bare_directory() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run_bench(d, "validate_resume", 0)
        assert r.returncode != 0 and not r.stdout.strip(), (r.returncode, r.stdout)
        print("ok  refuses to run without the repository", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory()
    check_result_lines(spec)
    check_checker()
    print("selftest passed")


if __name__ == "__main__":
    main()
