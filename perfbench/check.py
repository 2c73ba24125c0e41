"""Output checks, computed by DuckDB independently of Spark.

Batch: the routed per-sink counts and the aggregate table are recomputed
from the staged input and the written output. The sink *family* of a row
(its sink with the event-date suffix removed) is closed-form in the input's
role and tool, given the default mapper and the role/tool dimensions the
benchmark passes. The date suffix of `app-logs-YYYY-MM-DD` comes from the
parser's timestamp extraction, which is not closed-form; for it the exact
per-sink counts are compared with a golden table recorded at the commit
that introduced the benchmark (golden.json).

Stream: every generated file must appear exactly once, in one `batch_id`
directory whose micro-batch committed, with all of its lines (`conv_id` is
the file path).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import duckdb

GOLDEN = Path(__file__).with_name("golden.json")

# TranscriptPipeline.DEFAULT_MAPPER plus the datagen role/tool dimensions:
# elasticsearch rows are dropped (logs_enabled=false), the system role's
# sink token wins over the mapper, otherwise the first matching token wins.
_FAMILY_SQL = r"""
    CASE WHEN role = 'system' THEN 'SYSTEM-TOKEN'
         WHEN regexp_matches(tool, 'nginx|access|httpd') THEN 'web-logs'
         WHEN regexp_matches(tool, 'redis|mongo|mysql|elasticsearch') THEN 'datastore-logs'
         WHEN regexp_matches(tool, 'kafka|heroku') THEN 'queue-logs'
         WHEN regexp_matches(tool, 'json|\.log') THEN 'app-logs'
         ELSE 'default' END
"""
_SINK_FAMILY_SQL = r"regexp_replace(sink, '^app-logs-\d{4}-\d{2}-\d{2}$', 'app-logs')"


def connect(tmp_dir: Path, threads: int) -> duckdb.DuckDBPyConnection:
    tmp_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _parquet(glob: str, hive: bool = False) -> str:
    opts = ", hive_partitioning = true, hive_types_autocast = false" if hive else ""
    return f"read_parquet('{glob}'{opts})"


def expected_families(con, staged: Path) -> dict[str, int]:
    rows = con.execute(
        f"SELECT {_FAMILY_SQL} AS family, count(*) FROM {_parquet(f'{staged}/*.parquet')} "
        "WHERE tool IS DISTINCT FROM 'elasticsearch' GROUP BY family"
    ).fetchall()
    return dict(rows)


def check_batch(con, out: Path, families: dict[str, int], golden: dict | None) -> list[str]:
    """Problems found in one batch job's output (empty when correct)."""
    routed = _parquet(f"{out}/routed/*/*.parquet", hive=True)
    aggs = _parquet(f"{out}/aggregates/*.parquet")
    problems = []
    sinks = dict(con.execute(f"SELECT sink, count(*) FROM {routed} GROUP BY sink").fetchall())
    got_families: dict[str, int] = {}
    for fam, n in con.execute(
        f"SELECT {_SINK_FAMILY_SQL} AS family, count(*) FROM {routed} GROUP BY family"
    ).fetchall():
        got_families[fam] = n
    if got_families != families:
        problems.append(f"routed sink families {got_families} != expected {families}")
    agg_sinks = dict(con.execute(f"SELECT sink, sum(events) FROM {aggs} GROUP BY sink").fetchall())
    if agg_sinks != sinks:
        problems.append(f"aggregate per-sink totals {agg_sinks} != routed counts {sinks}")
    # the aggregate table must equal the group-by recomputed from the routed
    # rows, as a multiset in both directions
    diff = con.execute(
        f"""
        WITH mine AS (
            SELECT sink, conv_id, role, tool, date_trunc('hour', event_ts) AS hour,
                   count(*) AS events
            FROM {routed} GROUP BY ALL),
        theirs AS (SELECT sink, conv_id, role, tool, hour, events FROM {aggs})
        SELECT (SELECT count(*) FROM (SELECT * FROM mine EXCEPT ALL SELECT * FROM theirs)),
               (SELECT count(*) FROM (SELECT * FROM theirs EXCEPT ALL SELECT * FROM mine)),
               (SELECT count(*) FROM theirs)
        """
    ).fetchone()
    if diff[0] or diff[1]:
        problems.append(f"aggregate table differs from recomputation: {diff[0]} missing, {diff[1]} extra rows")
    if golden is not None:
        if sinks != golden["sinks"]:
            problems.append(f"per-sink counts {sinks} != golden {golden['sinks']}")
        if diff[2] != golden["groups"]:
            problems.append(f"aggregate groups {diff[2]} != golden {golden['groups']}")
    return problems


def batch_summary(con, out: Path) -> dict:
    """The per-sink counts and group count a golden entry records."""
    routed = _parquet(f"{out}/routed/*/*.parquet", hive=True)
    sinks = dict(con.execute(f"SELECT sink, count(*) FROM {routed} GROUP BY sink ORDER BY sink").fetchall())
    groups = con.execute(f"SELECT count(*) FROM {_parquet(f'{out}/aggregates/*.parquet')}").fetchone()[0]
    return {"sinks": sinks, "groups": groups}


def load_golden(workload: str, n_rows: int) -> dict | None:
    table = json.loads(GOLDEN.read_text()) if GOLDEN.exists() else {}
    return table.get(workload, {}).get(str(n_rows))


def stream_files(con, out: Path) -> dict[str, tuple[int, int, int]]:
    """{file name: (rows, distinct batch ids, batch id)} over a stream's
    routed output."""
    rows = con.execute(
        f"SELECT conv_id, count(*), count(DISTINCT batch_id), min(CAST(batch_id AS INTEGER)) "
        f"FROM {_parquet(f'{out}/routed/*/*/*.parquet', hive=True)} GROUP BY conv_id"
    ).fetchall()
    return {os.path.basename(c): (n, b, bid) for c, n, b, bid in rows}


def check_stream(
    found: dict[str, tuple[int, int, int]], ledger: list[dict], committed: set[int]
) -> tuple[set[str], list[str]]:
    """(names of failed files, problems): a file fails unless it appears in
    exactly one batch, with its full line count, and that batch committed
    (its checkpoint commit file exists)."""
    failed, problems = set(), []
    for rec in ledger:
        got = found.get(rec["name"])
        if got is None or got[0] != rec["lines"] or got[1] != 1 or got[2] not in committed:
            failed.add(rec["name"])
            if len(problems) < 5:
                problems.append(
                    f"{rec['name']}: expected {rec['lines']} lines in one committed batch, got {got}"
                )
    extra = set(found) - {rec["name"] for rec in ledger}
    if extra:
        problems.append(f"{len(extra)} unexpected files in the output, e.g. {sorted(extra)[:3]}")
    return failed, problems
