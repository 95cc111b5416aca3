"""Independent reference results and the comparisons behind each
correctness check.  Nothing here runs through Spark.

* ``duckdb_fold``: the compacted state of a set of changelog parquet
  files, folded by DuckDB (``list_reduce`` over each key's actions in
  seq order, ``arg_max`` payload), the same algebra as the catalog
  oracles in ``plans/cdc.py`` but written out here independently.
* ``catalog_oracle``: a query-catalog entry's registered DuckDB oracle
  run over given parquet tables.
* ``same_rows``: multiset equality of two row lists after normalizing
  floats and timestamps.
* ``true_jaccard``: word 3-gram Jaccard of two texts, normalized the way
  the dedup operators normalize (lowercase, trim, collapse whitespace);
  ``planted_recall`` uses it to score the planted near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import re
from collections import Counter

import duckdb

ABSENT = "#absent#"

_FOLD = (
    "list_reduce(list(cdc_action ORDER BY seq), (s, x) -> CASE "
    f"WHEN s = '{ABSENT}' THEN x "
    f"WHEN s = 'insert' THEN (CASE WHEN x = 'delete' THEN '{ABSENT}' ELSE 'insert' END) "
    "ELSE (CASE WHEN x = 'insert' THEN 'update' ELSE x END) END)"
)


def duckdb_fold(paths: list[str], pk: tuple[str, ...], payload: tuple[str, ...]) -> list[tuple]:
    """Rows (tbl, rid, cdc_action, *payload) of the state the changelog
    files fold to; keys with a NULL component are rejected and keys whose
    epoch ends in annihilation are absent."""
    files = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    rid = " || '&' || ".join(f"CAST({c} AS VARCHAR)" for c in pk)
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in pk)
    last = ", ".join(f"arg_max({c}, seq) AS {c}" for c in payload)
    sql = f"""
        SELECT * FROM (
          SELECT tbl, {rid} AS rid, {_FOLD} AS cdc_action, {last}
          FROM read_parquet([{files}])
          WHERE {not_null}
          GROUP BY tbl, rid
        ) WHERE cdc_action <> '{ABSENT}'
    """
    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        return con.execute(sql).fetchall()


def catalog_oracle(sql: str, tables: dict[str, str]) -> tuple[list[str], list[tuple]]:
    """(column names, rows) of a catalog query's DuckDB oracle ``sql``
    with each ``tables`` name bound to the parquet file at its path."""
    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        for name, path in tables.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('"
                + path.replace("'", "''") + "')"
            )
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Order-insensitive multiset equality with floats rounded to 6 dp
    and timestamps compared as naive ISO strings."""
    na = Counter(tuple(_norm(v) for v in r) for r in a)
    nb = Counter(tuple(_norm(v) for v in r) for r in b)
    return na == nb


def shingles(text: str, n: int = 3) -> set[str]:
    toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def true_jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def same_pairs(got: list[tuple], want: list[tuple]) -> bool:
    """Equality of two (a, b, jaccard) pair sets: identical id pairs and
    Jaccard values equal to 6 dp."""
    g = {(int(a), int(b)): round(float(j), 6) for a, b, j in got}
    w = {(int(a), int(b)): round(float(j), 6) for a, b, j in want}
    return len(g) == len(got) and len(w) == len(want) and g == w


def planted_recall(
    planted: list[tuple[int, int]], texts: dict[int, str], pairs: list[tuple], threshold: float
) -> tuple[float, int]:
    """(share of eligible planted pairs present in ``pairs``, number
    eligible); a planted pair is eligible when both documents were
    ingested and their true Jaccard reaches ``threshold``."""
    found = {(int(a), int(b)) for a, b, _ in pairs}
    eligible = [
        (min(a, b), max(a, b)) for a, b in planted
        if a in texts and b in texts and true_jaccard(texts[a], texts[b]) >= threshold
    ]
    return sum(p in found for p in eligible) / max(len(eligible), 1), len(eligible)
