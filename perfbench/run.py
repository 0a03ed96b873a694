"""perfbench: what users of the validator run, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each workload is a closed loop with one
client: one launch at a time, the next after the previous has exited and
its outputs were checked, until ``--seconds`` have passed (at least one
launch). Every launch runs at ``local[<cpus>]`` with shuffle partitions and
driver heap sized from the host. ``--trace 1`` makes one untraced and one
traced launch and reports per-layer metrics (see README.md).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: transcript corpus size: conversations (about 8 turns each, 90 days)
N_CONVS = 4000
#: validate_resume: days left pending in the checkpoint (the hot day and
#: one seed-chosen day)
PENDING = 2
#: operator_queries: scale factor of the generated tables
SF = 0.001
#: operator_queries: days the stream drain reads
STREAM_DAYS = 12
#: set-ups per run, at least; setup_s is their median
SETUPS = 15
LAUNCH_TIMEOUT_S = 170
#: a traced run without a cached untraced wall makes its reference launch
#: only if its traced launch finished within this many seconds
REFERENCE_BEFORE_S = 70


class BenchError(Exception):
    pass


def host() -> dict:
    """Parallelism and driver heap from this host, never a fixed default."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    heap_gb = max(1, kb // 2**20 // 4)
    return {"cpus": cpus, "heap": f"{heap_gb}g"}


class Workspace:
    """Everything a run writes lives under ``<checkout>/.perfbench``."""

    def __init__(self, root: str):
        self.root = root
        self.work = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.work, "cache")
        self.runs = os.path.join(self.work, "runs")
        self.tmp = os.path.join(self.work, "tmp")
        for d in (self.cache, self.runs, self.tmp):
            os.makedirs(d, exist_ok=True)

    def env(self, h: dict) -> dict[str, str]:
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(h["cpus"]),
            SPARK_DRIVER_MEMORY=h["heap"],
            SPARK_LOCAL_DIRS=os.path.join(self.tmp, "spark-local"),
            TMPDIR=self.tmp,
            # -XX:+PerfDisableSharedMem keeps hsperfdata out of the system /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.tmp} -XX:+PerfDisableSharedMem",
            PYSPARK_PYTHON=sys.executable,
            PYTHONPATH=os.pathsep.join(
                [self.root] + [p for p in [env.get("PYTHONPATH")] if p]
            ),
        )
        env.pop("SPARK_CONF_DIR", None)
        return env

    def fresh(self, name: str) -> str:
        path = os.path.join(self.runs, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _spark_submit(h: dict, script: str, args: list[str], ctx: dict,
                  trace: bool) -> list[str]:
    n = h["cpus"]
    cmd = [
        "spark-submit", "--master", f"local[{n}]",
        "--conf", f"spark.sql.shuffle.partitions={n}",
        "--conf", "spark.ui.enabled=false",
    ]
    if trace:
        cmd += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{ctx['event_log']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    return cmd + ["--py-files", ctx["zip"], script, *args]


def _run_quiet(cmd: list[str], env: dict, cwd: str, what: str) -> None:
    import procs

    r = procs.run(cmd, env, cwd, os.path.join(cwd, "setup.log"), LAUNCH_TIMEOUT_S)
    if r.returncode != 0 or r.timed_out:
        raise BenchError(f"{what} failed ({r.returncode}): {r.log[-3000:]}")


# -- workloads -----------------------------------------------------------------


def pick_days(day_rows: dict[str, int], k: int, seed: int) -> list[str]:
    """``k`` days chosen by ``seed``. The day with the most rows (it holds
    the corpus's hot conversation) is always one of them, so every run
    carries the same skew; the rest are one seed-chosen day from each of
    ``k - 1`` equal blocks of the other sorted days."""
    import random

    rng = random.Random(seed)
    hot = max(day_rows, key=lambda d: (day_rows[d], d))
    days = sorted(d for d in day_rows if d != hot)
    edges = [round(i * len(days) / (k - 1)) for i in range(k)]
    return sorted([hot] + [rng.choice(days[a:b]) for a, b in zip(edges, edges[1:])])


class Workload:
    """One workload: cached inputs, per-launch staging, command, outputs."""

    name = ""

    def __init__(self, ws: Workspace, h: dict, seed: int):
        self.ws, self.h, self.seed = ws, h, seed
        self.env = ws.env(h)
        self.generate_s = 0.0

    def setup(self, launch_dir: str) -> dict:
        """Make this launch's inputs; build the cached fixture on a miss."""
        raise NotImplementedError

    def command(self, ctx: dict, trace: bool) -> list[str]:
        raise NotImplementedError

    def attempts(self) -> int:
        """Operations one launch attempts."""
        return 1

    def measure(self, ctx: dict) -> tuple[int, list[float]]:
        """(rows processed, per-batch or per-operation seconds)."""
        raise NotImplementedError

    def check(self, ctx: dict) -> tuple[list[str], int]:
        """(problems, operations failed)."""
        raise NotImplementedError

    def fixture(self) -> str:
        """The checkout's fixed fixture (see fixtures.py), built on a miss."""
        path = os.path.join(self.ws.cache, f"fixture_c{N_CONVS}")
        if not os.path.exists(os.path.join(path, "_DONE")):
            t0 = time.perf_counter()
            _run_quiet(
                [sys.executable, os.path.join(HERE, "fixtures.py"),
                 "--n-convs", str(N_CONVS), "--out", path],
                self.env, self.ws.tmp, "fixture build",
            )
            self.generate_s += time.perf_counter() - t0
        return path

    def zip(self, launch_dir: str) -> str:
        from tools.package import build_zip

        return build_zip(os.path.join(launch_dir, "taco_toolbox_spark.zip"))

    @staticmethod
    def day_rows(fixture: str) -> dict[str, int]:
        with open(os.path.join(fixture, "done", "manifest.json")) as f:
            return {p: r["n_rows"] for p, r in json.load(f)["partitions"].items()}


class ValidateResume(Workload):
    """Cold ``spark-submit jobs/validate.py --resume --batch-parts 1`` over a
    checkpoint in which the seed's PENDING days are not done yet."""

    name = "validate_resume"

    def setup(self, launch_dir):
        from fixtures import OUTPUTS

        fx = self.fixture()
        rows = self.day_rows(fx)
        pending = pick_days(rows, PENDING, self.seed)
        out = os.path.join(launch_dir, "out")
        shutil.copytree(os.path.join(fx, "done"), out)
        mpath = os.path.join(out, "manifest.json")
        with open(mpath) as f:
            doc = json.load(f)
        for p in pending:
            del doc["partitions"][p]
            for name in OUTPUTS:
                shutil.rmtree(os.path.join(out, name, f"part={p}"), ignore_errors=True)
        with open(mpath, "w") as f:
            json.dump(doc, f, indent=1)
        return {"dir": launch_dir, "corpus": os.path.join(fx, "corpus"),
                "out": out, "pending": pending,
                "rows": sum(rows[p] for p in pending), "zip": self.zip(launch_dir)}

    def command(self, ctx, trace):
        from fixtures import VALIDATE_FLAGS

        args = [
            "--input", os.path.join(ctx["corpus"], "transcripts"),
            "--baseline", os.path.join(ctx["corpus"], "transcripts_baseline"),
            "--output", ctx["out"], "--resume", "--batch-parts", "1",
            *VALIDATE_FLAGS,
        ]
        script = (os.path.join(HERE, "trace_entry.py") if trace
                  else os.path.join(ROOT, "jobs", "validate.py"))
        return _spark_submit(self.h, script, args, ctx, trace)

    def measure(self, ctx):
        with open(os.path.join(ctx["out"], "manifest.json")) as f:
            recs = json.load(f)["partitions"]
        got = [recs[p] for p in ctx["pending"] if p in recs]
        return ctx["rows"], [r["metrics"]["batch_sec"] for r in got]

    def check(self, ctx):
        from outputs import check_validate

        probs = check_validate(ctx["corpus"], ctx["out"], resumed=True)
        return probs, int(bool(probs))


class OperatorQueries(Workload):
    """One spark-submit process: the ``queries.selected()`` headline queries
    over seeded tables, then ``jobs/stream_validate.py``'s stateful battery
    draining the seed's STREAM_DAYS days."""

    name = "operator_queries"

    def setup(self, launch_dir):
        from tables import write_tables

        fx = self.fixture()
        tables = os.path.join(self.ws.cache, f"tables_s{self.seed}_sf{SF}")
        if not os.path.isdir(tables):
            t0 = time.perf_counter()
            write_tables(self.seed, SF, tables + ".partial")
            os.replace(tables + ".partial", tables)
            self.generate_s += time.perf_counter() - t0
        import pyarrow.parquet as pq

        table_rows = sum(
            pq.ParquetFile(os.path.join(tables, f)).metadata.num_rows
            for f in os.listdir(tables)
        )
        rows = self.day_rows(fx)
        days = pick_days(rows, STREAM_DAYS, self.seed)
        stream_in = os.path.join(launch_dir, "stream_in")
        for p in days:
            shutil.copytree(os.path.join(fx, "corpus", "transcripts", f"part={p}"),
                            os.path.join(stream_in, f"part={p}"))
        return {"dir": launch_dir, "tables": tables, "stream_in": stream_in,
                "stream_out": os.path.join(launch_dir, "stream_out"),
                "rows": table_rows + sum(rows[p] for p in days),
                "oracle": os.path.join(fx, "oracle_sql.json"),
                "out": os.path.join(launch_dir, "queries.json"),
                "frames": os.path.join(launch_dir, "frames.pkl"),
                "zip": self.zip(launch_dir)}

    def command(self, ctx, trace):
        args = ["--tables", ctx["tables"], "--stream-in", ctx["stream_in"],
                "--stream-out", ctx["stream_out"], "--out", ctx["out"],
                "--frames", ctx["frames"]] + (["--trace"] if trace else [])
        return _spark_submit(self.h, os.path.join(HERE, "queries.py"), args,
                             ctx, trace)

    def ops(self, ctx) -> dict:
        with open(ctx["out"]) as f:
            return json.load(f)["ops"]

    def attempts(self):
        from queries import selected

        return len(selected()) + 1

    def measure(self, ctx):
        """Rows: table rows plus drained turns. Operations: each query and
        each stream micro-batch."""
        ops = self.ops(ctx)
        queries = [r["end"] - r["start"] for n, r in ops.items()
                   if n != "stream_validate"]
        return ctx["rows"], queries + stream_batches(ctx["stream_out"])

    def check(self, ctx):
        from outputs import check_queries, check_stream
        from queries import selected

        with open(ctx["frames"], "rb") as f:
            frames = pickle.load(f)  # written by this benchmark's own child
        with open(ctx["oracle"]) as f:
            sql = json.load(f)
        res = check_queries(frames, sql, ctx["tables"])
        res["stream_validate"] = check_stream(ctx["stream_in"], ctx["stream_out"])
        probs = [f"{n}: {'; '.join(p)}" for n, p in res.items() if p]
        probs += [f"{n}: no output" for n in selected() if n not in res]
        return probs, len(probs)


WORKLOADS = {w.name: w for w in (ValidateResume, OperatorQueries)}


# -- one launch ------------------------------------------------------------------


def launch(wl: Workload, ctx: dict, trace: bool) -> dict:
    import procs

    env = dict(wl.env)
    if trace:
        ctx["event_log"] = os.path.join(ctx["dir"], "eventlog")
        ctx["trace_out"] = os.path.join(ctx["dir"], "trace.json")
        os.makedirs(ctx["event_log"])
        env["PERFBENCH_TRACE_OUT"] = ctx["trace_out"]
    L = procs.run(wl.command(ctx, trace), env, ctx["dir"],
                  os.path.join(ctx["dir"], "launch.log"), LAUNCH_TIMEOUT_S)
    rec = {"launch": L, "problems": [], "rows": 0, "batches": [],
           "attempted": wl.attempts(), "failed": wl.attempts()}
    if L.returncode != 0 or L.timed_out:
        rec["problems"] = [
            f"exit {L.returncode}{' (timeout)' if L.timed_out else ''}: {L.log[-1500:]}"
        ]
        return rec
    try:
        rec["rows"], rec["batches"] = wl.measure(ctx)
        rec["problems"], rec["failed"] = wl.check(ctx)
    except (OSError, KeyError, ValueError) as e:
        rec["problems"] = [f"outputs unreadable: {e!r}"]
    return rec


# -- statistics -----------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, beyond): the highest percentile with at least ten
    samples beyond it; with ten or fewer samples, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    k = n - 10  # xs[k-1] has exactly ten samples above it
    return xs[k - 1], 100.0 * k / n, n - k


def med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- per-layer metrics -------------------------------------------------------------


def layer_metrics(wl: Workload, ctx: dict, traced: dict,
                  untraced_wall: float | None) -> dict[str, float]:
    """Per-layer metrics of one traced launch (see README.md)."""
    from tracing import Span, attribute_jobs, metrics_of, read_event_log, union_seconds

    L = traced["launch"]
    by_kind = L.cpu_by_kind_s
    m: dict[str, float] = {
        "peak_rss_mb": L.peak_rss_mb,
        "jvm.cpu_s": by_kind.get("jvm", 0.0),
        "python_worker.cpu_s": max(0.0, L.cpu_s - sum(
            v for k, v in by_kind.items() if k != "python_worker")),
        "setup.generate_s": wl.generate_s,
    }
    jobs, stages = read_event_log(ctx["event_log"])
    analysis = 0.0
    if wl.name == "operator_queries":
        with open(ctx["out"]) as f:
            doc = json.load(f)
        fam: dict[str, float] = {}
        for name, r in doc["ops"].items():
            dur = r["end"] - r["start"]
            if name != "stream_validate":
                m[f"q.{name}.exec_s"] = dur
            for f_ in r["families"]:
                fam[f_] = fam.get(f_, 0.0) + dur
        for f_ in ("dedup", "similarity", "operators", "functions", "streaming"):
            m[f"{f_}.exec_s"] = fam.get(f_, 0.0)
        children = [Span(n, r["start"], r["end"], None, "main", i)
                    for i, (n, r) in enumerate(doc["ops"].items())]
        main = Span("main", children[0].start, children[-1].end, None, "main", -1)
        main_jobs = {j.jid for j in jobs}
        m.update(stream_layers(doc["progress"], ctx["stream_out"]))
        m["session.get_spark_s"] = doc["get_spark_s"]
    else:
        with open(ctx["trace_out"]) as f:
            t = json.load(f)
        spans = [Span(**s) for s in t["spans"]]
        by_id = {s.sid: s for s in spans}
        main = next(s for s in spans if s.name == "main")

        def under_main(s: Span) -> bool:
            while s.parent is not None:
                if s.parent == main.sid:
                    return True
                s = by_id[s.parent]
            return False

        inner = [s for s in spans if under_main(s)]
        owner = attribute_jobs(jobs, spans)
        main_jobs = {
            j.jid for j in jobs
            if owner.get(j.jid) is not None
            and (owner[j.jid] == main.sid or under_main(by_id[owner[j.jid]]))
        }

        def total(name: str) -> float:
            return sum(s.dur for s in inner if s.name == name)

        for name in ("session.get_spark", "checks.transcript_checks",
                     "sources.snapshot_id", "engine.run_validation",
                     "stats.column_stats"):
            m[f"{name}_s"] = total(name)
        for w in ("violations", "stats", "verdicts"):
            m[f"validate.write.{w}_s"] = total(f"validate.write.{w}")
        for c in ("counts", "verdicts"):
            m[f"validate.collect.{c}_s"] = total(f"validate.collect.{c}")
        for c in ("load", "pending_filter", "record_partition", "save",
                  "record_sketch_state", "record_distinct_state"):
            m[f"checkpoint.{c}_s"] = total(f"checkpoint.{c}")
        m.update(t["passes"])
        analysis = sum(s.dur for s in spans if s.name == "pass_split")
        rv = sorted((s for s in inner if s.name == "engine.run_validation"),
                    key=lambda s: s.start)
        saves = sorted((s for s in inner if s.name == "checkpoint.save"),
                       key=lambda s: s.start)
        if rv:
            m["validate.pre_loop_s"] = rv[0].start - main.start
        actions, scans = [], []
        for b, s in zip(rv, saves):
            js = [j for j in jobs if b.start <= j.submit <= s.end]
            actions.append(len(js))
            scans.append(sum(1 for j in js for sid in j.stages
                             if sid in stages and stages[sid].input_bytes > 0))
        m["validate.batch.actions"] = med(actions)
        m["validate.batch.scans"] = med(scans)
        m["checkpoint.manifest_kb"] = os.path.getsize(
            os.path.join(ctx["out"], "manifest.json")) / 1024
        pending_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for p in ctx["pending"]
            for dp, _, fs in os.walk(
                os.path.join(ctx["corpus"], "transcripts", f"part={p}"))
            for f in fs if not f.startswith((".", "_"))
        )
        m["checkpoint.pruned_scan_ratio"] = (
            metrics_of(jobs, stages, main_jobs).input_bytes / max(pending_bytes, 1)
        )
        children = [s for s in spans if s.parent == main.sid]
    ex = metrics_of(jobs, stages, main_jobs)
    m.update({
        "jvm.gc_s": ex.gc_s, "exec.run_s": ex.run_s, "exec.cpu_s": ex.cpu_s,
        "exec.tasks": ex.tasks, "exec.failed_tasks": ex.failed_tasks,
        "exec.shuffle_write_mb": ex.shuffle_write_bytes / 2**20,
        "exec.spill_mb": ex.spill_bytes / 2**20,
        # 0 when no untraced reference exists (reported on a comment line)
        "trace.overhead_s": (L.wall_s - analysis - untraced_wall
                             if untraced_wall is not None else 0.0),
        "trace.main_s": main.dur,
        "trace.span_coverage": (
            union_seconds([(s.start, s.end) for s in children]) / main.dur
            if main.dur > 0 else 0.0
        ),
    })
    return m


def stream_batches(out: str) -> list[float]:
    """Micro-batch seconds of the battery sink, from outside the program:
    mtime of commits/<id> minus mtime of offsets/<id>."""
    ck = os.path.join(out, "_checkpoints", "battery")
    return [
        os.path.getmtime(os.path.join(ck, "commits", b))
        - os.path.getmtime(os.path.join(ck, "offsets", b))
        for b in os.listdir(os.path.join(ck, "commits")) if b.isdigit()
    ]


def stream_layers(progress: list[dict], out: str) -> dict[str, float]:
    m: dict[str, float] = {}
    batches = stream_batches(out)
    m["streaming.batch_p50_s"] = med(batches)
    m["streaming.batch_tail_s"] = tail(batches)[0] if batches else 0.0
    m["streaming.micro_batches"] = len(batches)
    if progress:
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms")):
            m[f"streaming.{name}"] = med([p["durationMs"].get(key, 0) for p in progress])
        m["streaming.state_rows"] = max(
            sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
            for p in progress)
        m["streaming.state_mb"] = max(
            sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", []))
            for p in progress) / 2**20
    return m


# -- driver --------------------------------------------------------------------------


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    spec = load_spec()
    h = host()
    ws = Workspace(ROOT)
    wl = WORKLOADS[workload](ws, h, seed)
    setups, recs, dirs = [], [], []

    def staged() -> dict:
        d = ws.fresh(f"{workload}_{os.getpid()}_{len(dirs)}")
        dirs.append(d)
        t0 = time.perf_counter()
        ctx = wl.setup(d)
        setups.append(time.perf_counter() - t0)
        return ctx

    # untraced walls of earlier runs in this checkout are the reference for
    # the tracing overhead; a traced run makes its own reference launch only
    # when there is none and the run is still young enough to stay inside
    # the per-run time limit
    walls_path = os.path.join(ws.cache, f"untraced_walls_{workload}.json")
    walls = []
    if os.path.exists(walls_path):
        with open(walls_path) as f:
            walls = json.load(f)
    t_start = time.perf_counter()
    traced = None
    if trace:
        ctx = staged()
        traced = launch(wl, ctx, trace=True)
        _log_launch(workload + " (traced)", traced)
        recs.append(traced)
    while not trace or (not walls and time.perf_counter() - t_start < REFERENCE_BEFORE_S):
        recs.append(launch(wl, staged(), trace=False))
        _log_launch(workload, recs[-1])
        if not recs[-1]["failed"]:
            walls.append(recs[-1]["launch"].wall_s)
        if trace or time.perf_counter() - t_start >= seconds:
            break
    with open(walls_path, "w") as f:
        json.dump(walls, f)
    layers: dict[str, float] = {}
    if traced and not traced["failed"]:
        layers = layer_metrics(wl, ctx, traced, med(walls) if walls else None)
    while len(setups) < SETUPS:
        staged()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)

    ok = [r for r in recs if not r["problems"]] or recs
    batches = [b for r in ok for b in r["batches"]]
    tail_v, tail_p, tail_n = tail(batches) if batches else (0.0, 0.0, 0)
    e2e = {
        "setup_s": med(setups),
        "cpu_core_s": med([r["launch"].cpu_s for r in ok]),
    }
    # printed for every run, not gated: on a shared host a cold launch's
    # wall time follows the neighbours' load (README.md)
    walltimes = {
        "wall_s": (med([r["launch"].wall_s for r in ok]), "s"),
        "rows_per_s": (med([r["rows"] / r["launch"].wall_s for r in ok]), "1/s"),
        "batch_p50_s": (med(batches), "s"),
        "batch_tail_s": (tail_v, "s"),
    }
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    source = layers if trace else e2e
    print(f"# {workload} seed={seed} launches={len(recs)} host={h}")
    for k in names:
        print(f"{k:>36} {source.get(k, 0.0):14.4f} {units[k]}")
    if not trace:
        for k, (v, unit) in walltimes.items():
            print(f"{k:>36} {v:14.4f} {unit}")
    print(f"{'failed_frac':>36} {failed / max(attempted, 1):14.4f} ratio")
    if trace and not walls:
        print("# trace.overhead_s: no untraced reference wall in this checkout")
    print(f"# batch_tail_s is p{tail_p:.1f} of {len(batches)} batch samples "
          f"({tail_n} beyond it); setup samples {[round(s, 3) for s in setups]}; "
          f"generation {wl.generate_s:.1f}s")
    for r in recs:
        for p in r["problems"]:
            print(f"# CHECK FAILED: {p[:500]}")
    return {
        "correct": failed == 0 and (bool(layers) or not trace),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(source.get(k, 0.0)), "unit": units[k]}
                    for k in names},
    }


def _log_launch(name: str, rec: dict) -> None:
    L = rec["launch"]
    print(
        f"# {name}: wall {L.wall_s:.2f}s cpu {L.cpu_s:.1f}s rss {L.peak_rss_mb:.0f}MB "
        f"rows {rec['rows']} batches {len(rec['batches'])} failed {rec['failed']} "
        f"busy {L.busy_cores} steal {L.steal_cores} foreign {L.foreign_cores}",
        flush=True,
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("jobs/validate.py", "jobs/stream_validate.py",
                 "taco_toolbox_spark/__init__.py", "bench.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full "
                  "checkout", file=sys.stderr)
            return 2
    if shutil.which("spark-submit") is None:
        print("perfbench: spark-submit not on PATH", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run unwinds, so procs.run stops the launch it waits on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
