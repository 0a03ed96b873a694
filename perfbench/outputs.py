"""Output checks, computed independently with DuckDB.

Every function returns a list of problems; an empty list means the run's
outputs are correct. They run after the workload process has exited, so
they are never part of a timed section.
"""

from __future__ import annotations

import json
import os

import duckdb

from taco_toolbox_spark.datagen import DRIFT_DATE
from taco_toolbox_spark.schema import ROLE_VOCAB, TOOL_VOCAB

CONV_RE = "^conv_[a-z0-9]{8}$"

#: check ids a validate run with the workload's flags reports per partition
CHECK_IDS = (
    "unique_turn conv_id_format role_vocab tool_vocab tool_iff_role "
    "text_not_null turn_idx_nonneg ts_not_null ts_monotone turn_contiguous "
    "text_len_drift text_equality role_transitions role_close ts_gap"
).split()


def _lst(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


#: expected violation keys per deterministic check (as tests/test_engine.py)
EXPECTED_SQL = {
    "unique_turn": "SELECT conv_id, turn_idx FROM t GROUP BY 1, 2 HAVING count(*) > 1",
    "role_vocab": f"SELECT conv_id, turn_idx FROM t WHERE role IS NULL OR role NOT IN ({_lst(ROLE_VOCAB)})",
    "tool_vocab": f"SELECT conv_id, turn_idx FROM t WHERE tool IS NOT NULL AND tool NOT IN ({_lst(TOOL_VOCAB)})",
    "tool_iff_role": "SELECT conv_id, turn_idx FROM t WHERE coalesce(role = 'tool', false) <> (tool IS NOT NULL)",
    "conv_id_format": f"SELECT conv_id, turn_idx FROM t WHERE NOT regexp_full_match(conv_id, '{CONV_RE}')",
    "text_not_null": "SELECT conv_id, turn_idx FROM t WHERE text IS NULL",
    "ts_monotone": """
        SELECT conv_id, turn_idx FROM (
          SELECT conv_id, turn_idx, ts,
                 lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
          FROM t) WHERE prev > ts""",
    "turn_contiguous": """
        SELECT conv_id, NULL::INT AS turn_idx FROM t GROUP BY conv_id
        HAVING NOT (min(turn_idx) = 0 AND max(turn_idx) = count(*) - 1
                    AND count(DISTINCT turn_idx) = count(*))""",
    "text_equality": """
        SELECT t.conv_id, t.turn_idx FROM t
        LEFT JOIN b ON t.conv_id = b.conv_id AND t.turn_idx = b.turn_idx
        WHERE b.conv_id IS NULL OR t.text IS DISTINCT FROM b.text""",
}


def _view(con, name: str, table_dir: str) -> None:
    """A view over a ``part=``-partitioned parquet directory."""
    con.execute(
        f"CREATE VIEW {name} AS SELECT * REPLACE (part::VARCHAR AS part) "
        f"FROM read_parquet('{table_dir}/*/*.parquet', "
        "hive_partitioning = true, hive_types_autocast = false)"
    )


def _keys(rows) -> set:
    return {(c, None if i is None else int(i)) for c, i in rows}


def check_validate(corpus: str, out: str, resumed: bool) -> list[str]:
    """Exact violation sets, verdict grid, drift partition and, after a
    resume, exactly-once outputs and a complete manifest."""
    con = duckdb.connect()
    _view(con, "t", f"{corpus}/transcripts")
    _view(con, "b", f"{corpus}/transcripts_baseline")
    _view(con, "v", f"{out}/violations")
    _view(con, "g", f"{out}/verdicts")
    probs: list[str] = []
    for check, sql in EXPECTED_SQL.items():
        want = _keys(con.sql(sql).fetchall())
        got = _keys(con.sql(
            f"SELECT conv_id, turn_idx FROM v WHERE check_id = '{check}'"
        ).fetchall())
        if got != want:
            probs.append(
                f"{check}: {len(got - want)} unexpected, {len(want - got)} missing"
            )
    dups = con.sql(
        "SELECT check_id, count(*) FROM (SELECT part, check_id, conv_id, "
        "turn_idx FROM v GROUP BY ALL HAVING count(*) > 1) GROUP BY 1"
    ).fetchall()
    if dups:
        probs.append(f"duplicate violation rows: {dict(dups)}")
    parts = {r[0] for r in con.sql("SELECT DISTINCT part FROM t").fetchall()}
    grid = con.sql("SELECT part, check_id, n_violations, passed FROM g").fetchall()
    cells = {(p, c) for p, c, _, _ in grid}
    if len(grid) != len(cells) or cells != {(p, c) for p in parts for c in CHECK_IDS}:
        probs.append(
            f"verdict grid has {len(grid)} rows for {len(parts)} parts x "
            f"{len(CHECK_IDS)} checks"
        )
    counted = dict(
        ((p, c), n) for p, c, n in con.sql(
            "SELECT part, check_id, count(*) FROM v GROUP BY 1, 2"
        ).fetchall()
    )
    bad = [
        (p, c) for p, c, n, ok in grid
        if n != counted.get((p, c), 0) or ok != (n == 0)
    ]
    if bad:
        probs.append(f"{len(bad)} verdict cells disagree with violations, e.g. {bad[0]}")
    drift = {r[0] for r in con.sql(
        "SELECT DISTINCT part FROM v WHERE check_id = 'text_len_drift'"
    ).fetchall()}
    if drift != {DRIFT_DATE}:
        probs.append(f"text_len_drift flags {sorted(drift)}, not {DRIFT_DATE}")
    if resumed:
        with open(os.path.join(out, "manifest.json")) as f:
            recs = json.load(f)["partitions"]
        done = {p for p, r in recs.items() if r.get("status") == "done"}
        if done != parts:
            probs.append(f"manifest: {len(done)} of {len(parts)} partitions done")
    return probs


def check_stream(transcripts: str, out: str) -> list[str]:
    """The battery sink over ``transcripts`` equals the batch sets that
    tests/test_streaming.py::test_stateful_battery_matches_batch asserts."""
    con = duckdb.connect()
    _view(con, "t", transcripts)
    con.execute(
        f"CREATE VIEW s AS SELECT * FROM read_parquet('{out}/battery/*.parquet')"
    )
    probs: list[str] = []
    cap = con.sql("SELECT count(*) FROM s WHERE check_id = 'stream_state_cap'").fetchone()[0]
    if cap:
        probs.append(f"{cap} conversations overflowed the bounded state")
    for check in ("ts_monotone", "unique_turn"):
        want = _keys(con.sql(EXPECTED_SQL[check]).fetchall())
        rows = con.sql(
            f"SELECT conv_id, turn_idx FROM s WHERE check_id = '{check}'"
        ).fetchall()
        if _keys(rows) != want or len(rows) != len(want):
            probs.append(f"{check}: {len(rows)} rows for {len(want)} expected keys")
    want = {c for c, _ in con.sql(EXPECTED_SQL["turn_contiguous"]).fetchall()}
    flagged = {r[0] for r in con.sql(
        "SELECT conv_id FROM s WHERE check_id = 'turn_contiguous' "
        "QUALIFY row_number() OVER (PARTITION BY conv_id ORDER BY n_seen DESC) = 1 "
        "AND NOT passed"
    ).fetchall()}
    if flagged != want:
        probs.append(
            f"turn_contiguous: {len(flagged)} flagged for {len(want)} expected"
        )
    return probs


def check_queries(frames: dict, oracle_sql: dict, tables: str) -> dict[str, list[str]]:
    """Each query's rows against its DuckDB oracle (tools/check_oracle.py)."""
    from tools.check_oracle import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')"
        )
    out = {}
    for name, pdf in frames.items():
        if name in oracle_sql:
            out[name] = compare(name, pdf, con.execute(oracle_sql[name]).df())
        else:
            out[name] = [] if len(pdf) else ["no rows and no oracle"]
    return out
