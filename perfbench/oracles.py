"""Output oracles that run in DuckDB, outside the engine and outside
every timed window. Each check returns a list of mismatch messages;
an empty list means the output is correct.

The transcript twin follows the ``oracle_sql()`` conventions of
``__spark_entry__``: check ids are the engine's ``check_id`` strings,
NULL input passes every row check except ``Required``, UniqueKey
reports every row of a duplicated key, Contiguous one row per broken
group, Monotonic each row whose value drops below its predecessor.
"""

from __future__ import annotations

import collections

import duckdb

from hjsonschema_spark.sources.transcripts import ROLE_VOCAB, TOOL_VOCAB


def _in_list(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


TRANSCRIPT_COUNTS_SQL = f"""
WITH t AS (SELECT * FROM read_parquet(?)),
row_checks AS (
  SELECT
    count(*) FILTER (WHERE conv_id IS NULL) AS "required:conv_id",
    count(*) FILTER (WHERE role IS NULL) AS "required:role",
    count(*) FILTER (WHERE ts IS NULL) AS "required:ts",
    count(*) FILTER (WHERE role NOT IN ({_in_list(ROLE_VOCAB)})) AS "enum:role",
    count(*) FILTER (WHERE NOT regexp_matches(conv_id, '^c[0-9]{{8}}$')) AS "pattern:conv_id",
    count(*) FILTER (WHERE NOT regexp_matches(text, '^(Thought|Action|Observation):|^[a-z]'))
      AS "pattern:text",
    count(*) FILTER (WHERE turn_idx < 0 OR turn_idx > 100000) AS "bounds:turn_idx",
    count(*) FILTER (WHERE length(text) < 1 OR length(text) > 100000) AS "length:text",
    count(*) FILTER (WHERE CASE WHEN role IS NOT DISTINCT FROM 'tool_use' THEN tool IS NULL
                                ELSE tool IS NOT NULL END) AS "not_null_if:tool",
    count(*) FILTER (WHERE tool NOT IN ({_in_list(TOOL_VOCAB)})) AS "ref_integrity:tool->tools"
  FROM t
),
uniq AS (
  SELECT coalesce(sum(n), 0) AS n FROM (
    SELECT count(*) AS n FROM t GROUP BY conv_id, turn_idx HAVING count(*) > 1)
),
contig AS (
  SELECT count(*) AS n FROM (
    SELECT min(turn_idx) mn, max(turn_idx) mx, count(turn_idx) c,
           count(DISTINCT turn_idx) nd
    FROM t GROUP BY conv_id)
  WHERE mn <> 0 OR mx - mn + 1 <> c OR nd <> c
),
mono AS (
  SELECT count(*) AS n FROM (
    SELECT ts, lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS p FROM t)
  WHERE ts < p
)
SELECT row_checks.*, uniq.n AS "unique_key:conv_id,turn_idx",
       contig.n AS "contiguous:turn_idx", mono.n AS "monotonic:ts"
FROM row_checks, uniq, contig, mono
"""


def transcript_counts(parquet_glob: str | list[str]) -> dict[str, int]:
    """Per-check violation counts of the transcript suite, checks
    without violations omitted (the shape of ``summary()['by_check']``)."""
    con = duckdb.connect()
    try:
        cur = con.execute(TRANSCRIPT_COUNTS_SQL, [parquet_glob])
        names = [d[0] for d in cur.description]
        row = cur.fetchone()
    finally:
        con.close()
    return {k: int(v) for k, v in zip(names, row) if v}


def compare_counts(got: dict, want: dict, what: str) -> list[str]:
    if {k: int(v) for k, v in got.items()} == want:
        return []
    return [f"{what}: by_check {dict(sorted(got.items()))} != oracle {dict(sorted(want.items()))}"]


def violation_file_counts(violations_dir: str) -> dict[str, int]:
    """Per-check row counts of a violations table written as parquet."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            'SELECT "check", count(*) FROM read_parquet(?) GROUP BY 1', [f"{violations_dir}/*.parquet"]
        ).fetchall()
    finally:
        con.close()
    return {k: int(v) for k, v in rows}


def rows_multiset(rows) -> collections.Counter:
    """Order-insensitive comparison key for result rows, columns sorted
    by name, as the ``__spark_entry__`` parity checks compare them."""
    return collections.Counter(tuple(sorted((k, str(v)) for k, v in r.items())) for r in rows)


def sf_oracle_rows(sf_dir: str, query: str) -> list[dict]:
    """Rows of ``oracle_sql()[query]`` over the tables in ``sf_dir``."""
    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        for t in ("documents", "events", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        cur = con.execute(entry.oracle_sql()[query])
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]
    finally:
        con.close()


def compare_rows(got: list[dict], want: list[dict], what: str) -> list[str]:
    g, w = rows_multiset(got), rows_multiset(want)
    if g == w:
        return []
    return [f"{what}: {sum((g - w).values())} extra and {sum((w - g).values())} missing rows"]


def pair_set(rows: list[dict]) -> set[tuple]:
    return {(int(r["id_a"]), int(r["id_b"])) for r in rows}


def compare_pairs(got: list[dict], want: list[dict], what: str) -> list[str]:
    g, w = pair_set(got), pair_set(want)
    if g == w and g:
        return []
    return [f"{what}: {len(g - w)} extra and {len(w - g)} missing pairs ({len(w)} expected)"]
