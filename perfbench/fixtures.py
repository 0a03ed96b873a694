"""Build the benchmark's fixed inputs once per checkout, in a process of its
own so its JVM is gone before any timed launch begins.

    python3 perfbench/fixtures.py --n-convs N --out DIR

``DIR`` receives:

* ``corpus/``: ``datagen.generate_transcripts`` + ``write_corpus`` at the
  tests' seed 42 (90 ``part`` days, ~0.1% injected violations, hot
  conversations for skew);
* ``done/``: the outputs and manifest of ``jobs/validate.py`` run over the
  whole corpus with the workload's flags. A run's set-up removes its
  seed's pending days from a copy of it, which leaves the state a run
  killed after its last finished batch would leave;
* ``oracle_dump/`` and ``oracle_sql.json``: the oracle SQL of the selected
  headline queries, and the transcript dump some of them read.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CORPUS_SEED = 42
#: flags shared by the fixture build and the timed resume launch
VALIDATE_FLAGS = [
    "--record-sketches", "--role-grammar", "--role-close", "--max-gap", "120",
]
OUTPUTS = ("violations", "stats", "verdicts")


def build(n_convs: int, out: str) -> None:
    from jobs import validate
    from queries import selected
    from taco_toolbox_spark.datagen import generate_transcripts, write_corpus
    from taco_toolbox_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("perfbench_fixtures")
    try:
        corpus = os.path.join(out, "corpus")
        write_corpus(
            generate_transcripts(
                spark,
                n_convs=n_convs,
                seed=CORPUS_SEED,
                violation_denom=8000,
                hot_conv_every=5000,
                hot_len=2000,
            ),
            corpus,
        )
        rc = validate.main(
            [
                "--input", os.path.join(corpus, "transcripts"),
                "--baseline", os.path.join(corpus, "transcripts_baseline"),
                "--output", os.path.join(out, "done"),
                "--batch-parts", "0",
                *VALIDATE_FLAGS,
            ],
            stop_session=False,
        )
        if rc != 0:
            raise SystemExit(f"fixture validate run failed with {rc}")
        entrymod._ORACLE_DUMP = os.path.join(out, "oracle_dump")
        sql = entrymod.oracle_sql()
    finally:
        spark.stop()
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump({n: sql[n] for n in selected() if n in sql}, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    # built in place: the manifest pins the corpus path it validated
    shutil.rmtree(args.out, ignore_errors=True)
    build(args.n_convs, args.out)
    with open(os.path.join(args.out, "_DONE"), "w") as f:
        f.write("ok")


if __name__ == "__main__":
    main()
