"""The operator_queries workload process, launched with spark-submit.

    spark-submit ... perfbench/queries.py --tables DIR --stream-in DIR \
        --stream-out DIR --out RESULT.json --frames FRAMES.pkl [--trace]

In one session it runs every selected headline query once, timing each
from the build of its DataFrame to the end of its collection, and then
drains ``--stream-in`` through ``jobs.stream_validate.main`` (the stateful
per-conversation battery). The collected rows are pickled for the output
check, which the parent makes after this process has exited.

With ``--trace``, the public functions of the operators, dedup,
similarity and functions packages are wrapped so each query's time can be
attributed to the packages it calls, and a StreamingQueryListener records
the drain's progress events.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import pickle
import pkgutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: packages whose time the traced run reports as rollups
FAMILIES = ("operators", "dedup", "similarity", "functions")
#: every sixth headline query: each family is represented, and a run fits
#: the benchmark's per-run budget on a 4-core host
STRIDE = 6
#: stream drain: days (files) per micro-batch
FILES_PER_TRIGGER = 3


def selected() -> list[str]:
    import bench

    return bench.HEADLINE[::STRIDE]


def _wrap_families(calls: set[str]) -> None:
    """Record, in ``calls``, the family of every library function called."""
    originals = {}
    for fam in FAMILIES:
        pkg = importlib.import_module(f"taco_toolbox_spark.{fam}")
        mods = [pkg] + [
            importlib.import_module(f"{pkg.__name__}.{m.name}")
            for m in pkgutil.iter_modules(pkg.__path__)
        ]
        for mod in mods:
            for name, obj in vars(mod).items():
                if (
                    callable(obj)
                    and not isinstance(obj, type)
                    and not name.startswith("_")
                    and getattr(obj, "__module__", "").startswith(pkg.__name__)
                ):
                    originals.setdefault(id(obj), (obj, fam))

    def make(fn, fam):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            calls.add(fam)
            return fn(*a, **k)

        return wrapper

    wrapped = {i: make(fn, fam) for i, (fn, fam) in originals.items()}
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("taco_toolbox_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in wrapped and originals[id(obj)][0] is obj:
                setattr(mod, name, wrapped[id(obj)])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--stream-in", required=True)
    ap.add_argument("--stream-out", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--frames", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    calls: set[str] = set()
    if args.trace:
        _wrap_families(calls)
    import __spark_entry__ as entrymod
    from jobs import stream_validate
    from taco_toolbox_spark.session import get_spark

    qs = entrymod.queries()
    t0 = time.time()
    spark = get_spark("perfbench_queries")
    get_spark_s = time.time() - t0
    progress: list[dict] = []
    if args.trace:
        from tracing import progress_listener

        spark.streams.addListener(progress_listener(progress))
    for t in ("lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{args.tables}/{t}.parquet").count()
    results, frames = {}, {}
    for name in selected():
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        calls.clear()
        spark.sparkContext.setJobDescription(f"q.{name}")
        t0 = time.time()
        frames[name] = fn(spark, args.tables).toPandas()
        results[name] = {"start": t0, "end": time.time(), "families": sorted(calls)}
    spark.sparkContext.setJobDescription("stream_validate")
    t0 = time.time()
    rc = stream_validate.main(
        ["--input", args.stream_in, "--output", args.stream_out,
         "--max-files-per-trigger", str(FILES_PER_TRIGGER)],
        stop_session=False,
    )
    results["stream_validate"] = {"start": t0, "end": time.time(), "rc": rc,
                                  "families": ["streaming"]}
    spark.stop()
    with open(args.frames, "wb") as f:
        pickle.dump(frames, f)
    with open(args.out, "w") as f:
        json.dump({"ops": results, "progress": progress,
                   "get_spark_s": get_spark_s}, f)


if __name__ == "__main__":
    main()
