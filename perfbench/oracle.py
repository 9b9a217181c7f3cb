"""Correctness oracles, computed with DuckDB from the generated inputs.

They restate the routing configuration the benchmark runs (pipeline
DEFAULT_MAPPER, datagen role_dim/tool_dim) independently of logpipe, so a
change that alters what logpipe writes fails the run instead of speeding it
up. Each check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import duckdb

# datagen.role_dim: role 'system' carries the SYSTEM-TOKEN routing token,
# which wins over the mapper. datagen.tool_dim: elasticsearch rows are dropped.
# pipeline.DEFAULT_MAPPER: first family whose regex finds a match in the tool.
FAMILY_SQL = """CASE
  WHEN role = 'system' THEN 'SYSTEM-TOKEN'
  WHEN regexp_matches(tool, 'nginx|access|httpd') THEN 'web-logs'
  WHEN regexp_matches(tool, 'redis|mongo|mysql|elasticsearch') THEN 'datastore-logs'
  WHEN regexp_matches(tool, 'kafka|heroku') THEN 'queue-logs'
  WHEN regexp_matches(tool, 'json|\\.log') THEN 'app-logs'
  ELSE 'default' END"""
KEPT_SQL = "coalesce(tool, '') <> 'elasticsearch'"
# a dated sink (app-logs-YYYY-MM-DD expanded from event time) belongs to its family
SINK_FAMILY_SQL = "regexp_replace(coalesce(sink, '<null>'), '-[0-9]{4}-[0-9]{2}-[0-9]{2}$', '')"
# no written message may still hold an email, IPv4 address or API key
LEAK_PATTERNS = (
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    r"\b(?:sk-[A-Za-z0-9]{16,}|AKIA[0-9A-Z]{16}|gh[pousr]_[A-Za-z0-9]{20,}|[0-9a-f]{32,64})\b",
)
FAMILIES = ("web-logs", "datastore-logs", "queue-logs", "app-logs", "SYSTEM-TOKEN", "default")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _pq(path: str, hive: bool = False) -> str:
    return f"read_parquet('{path}', hive_partitioning = {str(hive).lower()}, union_by_name = true)"


def expected_families(con, input_glob: str) -> dict[str, int]:
    rows = con.execute(
        f"SELECT {FAMILY_SQL} AS fam, count(*) FROM {_pq(input_glob)} WHERE {KEPT_SQL} GROUP BY fam"
    ).fetchall()
    return dict(rows)


# the patterns go into the SQL as literals: DuckDB compiles a literal regex
# once, a bound parameter for every row (100x slower here)
assert not any("'" in p for p in LEAK_PATTERNS)
LEAK_SQL = " OR ".join(f"regexp_matches(coalesce(message, ''), '{p}')" for p in LEAK_PATTERNS)


def _leaks(con, routed: str) -> int:
    return con.execute(f"SELECT count(*) FROM {routed} WHERE {LEAK_SQL}").fetchone()[0]


def check_routed(con, out_dir: str, expected: dict[str, int]) -> list[str]:
    """Routed rows by sink family equal the oracle's; aggregate event sums
    equal the routed rows of each sink; no written message leaks."""
    routed = _pq(f"{out_dir}/routed/*/*.parquet", hive=True)
    try:
        got = dict(con.execute(f"SELECT {SINK_FAMILY_SQL} AS fam, count(*) FROM {routed} GROUP BY fam").fetchall())
        per_sink = dict(con.execute(f"SELECT coalesce(sink, '<null>'), count(*) FROM {routed} GROUP BY 1").fetchall())
        agg = dict(
            con.execute(
                f"SELECT coalesce(sink, '<null>'), sum(events) FROM {_pq(f'{out_dir}/aggregates/*.parquet')} GROUP BY 1"
            ).fetchall()
        )
        leaks = _leaks(con, routed)
    except duckdb.Error as e:
        return [f"unreadable output: {e}"]
    problems = []
    if got != expected:
        problems.append(f"rows by sink family {got} != oracle {expected}")
    if agg != per_sink:
        problems.append(f"aggregate events by sink {agg} != routed rows by sink {per_sink}")
    if leaks:
        problems.append(f"{leaks} written messages match an email/IP/API-key pattern")
    return problems


def check_near_dup(con, out_dir: str, docs: str, truth: str, recall_floor: float) -> tuple[list[str], float]:
    """exact_dedup keeps exactly the lowest doc_id of each distinct text; the
    planted near pairs land in one cluster at a recall of at least the floor."""
    try:
        missing, extra = con.execute(
            f"""WITH want AS (SELECT min(doc_id) AS doc_id FROM {_pq(f'{docs}/*.parquet')} GROUP BY text),
                     got AS (SELECT doc_id FROM {_pq(f'{out_dir}/unique/*.parquet')})
                SELECT (SELECT count(*) FROM (SELECT doc_id FROM want EXCEPT ALL SELECT doc_id FROM got)),
                       (SELECT count(*) FROM (SELECT doc_id FROM got EXCEPT ALL SELECT doc_id FROM want))"""
        ).fetchone()
        planted, found = con.execute(
            f"""SELECT count(*), count(*) FILTER (WHERE ca.cluster_id = cb.cluster_id)
                FROM {_pq(f'{truth}/*.parquet')} t
                LEFT JOIN {_pq(f'{out_dir}/clusters/*.parquet')} ca ON ca.id = t.base_id
                LEFT JOIN {_pq(f'{out_dir}/clusters/*.parquet')} cb ON cb.id = t.copy_id"""
        ).fetchone()
    except duckdb.Error as e:
        return [f"unreadable output: {e}"], 0.0
    recall = found / planted if planted else 1.0
    problems = []
    if missing or extra:
        problems.append(f"exact dedup kept {extra} docs it should not and lost {missing} it should keep")
    if recall < recall_floor:
        problems.append(f"near-duplicate recall {recall:.4f} below the floor {recall_floor}")
    return problems, recall


def check_stream(con, out_dir: str, files: list[str]) -> dict[str, str]:
    """Per staged file: the union of all micro-batch outputs holds each of
    its kept rows exactly once, in the oracle's sink family, and no written
    message leaks. Returns {file: problem} for the files that fail."""
    file_list = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    routed = _pq(f"{out_dir}/routed/*/*/*.parquet", hive=True)
    try:
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE inp AS
                SELECT filename, conv_id, turn_idx, {FAMILY_SQL} AS fam
                FROM read_parquet({file_list}, filename = true) WHERE {KEPT_SQL}"""
        )
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE outp AS
                SELECT conv_id, turn_idx, min({SINK_FAMILY_SQL}) AS fam, count(*) AS n, bool_or({LEAK_SQL}) AS leaked
                FROM {routed} GROUP BY conv_id, turn_idx"""
        )
        rows = con.execute(
            """SELECT inp.filename,
                      count(*) FILTER (WHERE outp.n IS NULL),
                      count(*) FILTER (WHERE outp.n > 1),
                      count(*) FILTER (WHERE outp.fam <> inp.fam),
                      count(*) FILTER (WHERE outp.leaked)
               FROM inp LEFT JOIN outp USING (conv_id, turn_idx) GROUP BY inp.filename"""
        ).fetchall()
        stray = con.execute("SELECT count(*) FROM outp ANTI JOIN inp USING (conv_id, turn_idx)").fetchone()[0]
    except duckdb.Error as e:
        return {f: f"unreadable output: {e}" for f in files}
    bad = {}
    for name, missing, duplicated, misrouted, leaked in rows:
        if missing or duplicated or misrouted or leaked:
            bad[name] = f"missing {missing}, duplicated {duplicated}, misrouted {misrouted}, leaking {leaked}"
    if stray:
        # rows that match no input row cannot be pinned on one file
        bad.update({f: f"{stray} written rows match no input row" for f in files if f not in bad})
    return bad
