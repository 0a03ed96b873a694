"""Traced launch of the validate CLI: ``spark-submit ... trace_entry.py
<jobs/validate.py args>``.

Wraps the library's public functions with span recorders, runs
``jobs.validate.main`` with the given arguments, and then — in the same,
now warm, JVM — re-runs the validation battery one check family at a time
to split execution by engine pass. The spans and the per-pass times go as
JSON to ``$PERFBENCH_TRACE_OUT``; stage and task metrics come from the
Spark event log, which the submit line enables and run.py reads.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer  # noqa: E402

#: engine pass -> check classes it runs (engine.run_validation's dispatch)
PASS_FAMILIES = {
    "row": ("RowCheck",),
    "window": ("MonotoneCheck", "GapCheck", "SequenceCheck:allowed"),
    "seq_endpoint": ("SequenceCheck:endpoint",),
    "group_agg": ("UniquenessCheck", "ContiguityCheck", "GroupAggCheck"),
    "drift": ("DriftCheck",),
    "text_equality": ("TextEqualityCheck",),
}


def install(tr: Tracer) -> None:
    import taco_toolbox_spark.checks.base as checks_base
    import taco_toolbox_spark.checkpoint as ck
    import taco_toolbox_spark.engine as engine
    import taco_toolbox_spark.session as session
    import taco_toolbox_spark.sources.catalog as catalog
    import taco_toolbox_spark.stats as stats
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(catalog, "snapshot_id", "sources.snapshot_id")
    # also rebinds the re-export in taco_toolbox_spark.checks
    tr.wrap(checks_base, "transcript_checks", "checks.transcript_checks")
    tr.wrap(engine, "run_validation", "engine.run_validation")
    tr.wrap(stats, "column_stats", "stats.column_stats")
    M = ck.CheckpointManifest
    tr.wrap(M, "load_or_create", "checkpoint.load", kind="classmethod")
    tr.wrap(M, "pending_filter", "checkpoint.pending_filter", kind="method")
    tr.wrap(M, "record_partition", "checkpoint.record_partition", kind="method")
    tr.wrap(M, "save", "checkpoint.save", kind="method")
    tr.wrap(ck, "record_sketch_state", "checkpoint.record_sketch_state")
    tr.wrap(ck, "record_distinct_state", "checkpoint.record_distinct_state")

    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        name = f"validate.write.{os.path.basename(str(path).rstrip('/'))}"
        return tr.call(name, orig_parquet, self, path, *a, **k)

    DataFrameWriter.parquet = parquet

    orig_collect = DataFrame.collect
    verdict_frames: set[int] = set()
    orig_rv = engine.run_validation

    def run_validation(*a, **k):
        res = orig_rv(*a, **k)
        verdict_frames.add(id(res.verdicts))
        return res

    engine.run_validation = run_validation

    def collect(self):
        caller = sys._getframe(1).f_code.co_name
        if id(self) in verdict_frames:
            name = "validate.collect.verdicts"
        elif caller == "_counts":
            name = "validate.collect.counts"
        else:
            name = f"collect.{caller}"
        return tr.call(name, orig_collect, self)

    DataFrame.collect = collect
    orig_count = DataFrame.count

    def count(self):
        return tr.call(f"count.{sys._getframe(1).f_code.co_name}", orig_count, self)

    DataFrame.count = count


def _family_checks(checks, family: str):
    from dataclasses import replace

    from taco_toolbox_spark.checks.base import SequenceCheck

    out = []
    for c in checks:
        for tag in PASS_FAMILIES[family]:
            cls, _, part = tag.partition(":")
            if type(c).__name__ != cls:
                continue
            if isinstance(c, SequenceCheck) and part == "allowed":
                if c.allowed is None:
                    continue
                c = replace(c, first=None, last=None)
            elif isinstance(c, SequenceCheck) and part == "endpoint":
                if c.first is None and c.last is None:
                    continue
                c = replace(c, allowed=None)
            out.append(c)
    return out


def pass_split(spark, args: dict) -> dict[str, float]:
    """Warm per-pass, stats and first-vs-warm execution times over the
    whole corpus, in the session the CLI run left open."""
    from taco_toolbox_spark.checks import (
        GapCheck,
        ROLE_LAST,
        role_sequence_check,
        transcript_checks,
    )
    from taco_toolbox_spark.engine import EngineConfig, run_validation
    from taco_toolbox_spark.stats import column_stats

    df = spark.read.parquet(args["--input"])
    ref = spark.read.parquet(args["--baseline"])
    checks = transcript_checks(reference=ref) + [
        role_sequence_check(),
        role_sequence_check(
            check_id="role_close", allowed=None, first=None, last=ROLE_LAST
        ),
        GapCheck(check_id="ts_gap", description="gap", value_col="ts",
                 max_step=float(args["--max-gap"])),
    ]
    cfg = EngineConfig(persist_violations=False)

    def execute(frame) -> float:
        t0 = time.time()
        frame.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    out: dict[str, float] = {}
    res = run_validation(df, checks, cfg, baseline=ref)
    out["engine.exec_first_s"] = execute(res.violations)
    out["engine.exec_warm_s"] = execute(res.violations)
    for family in PASS_FAMILIES:
        sub = _family_checks(checks, family)
        if not sub:
            continue
        r = run_validation(df, sub, cfg, baseline=ref)
        execute(r.violations)
        out[f"engine.pass.{family}_s"] = execute(r.violations)
    st = column_stats(df, "part")
    execute(st)
    out["stats.exec_s"] = execute(st)
    return out


def main() -> int:
    argv = sys.argv[1:]
    tr = Tracer()
    install(tr)
    from jobs import validate

    rc = tr.call("main", validate.main, argv, stop_session=False)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    passes: dict[str, float] = {}
    if rc == 0:
        opts = {k: argv[argv.index(k) + 1]
                for k in ("--input", "--baseline", "--max-gap")}
        passes = tr.call("pass_split", pass_split, spark, opts)
    spark.stop()
    with open(os.environ["PERFBENCH_TRACE_OUT"], "w") as f:
        json.dump({
            "rc": rc,
            "passes": passes,
            "spans": [s.__dict__ for s in tr.spans],
        }, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
