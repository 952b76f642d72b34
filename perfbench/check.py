"""Untimed correctness gate for one benchmark run, replayed in DuckDB.

Both workloads: the store holds exactly the distinct ids offered, with no
duplicate ids, descriptions cut to 500 characters, at most 5 colors per
object and every NaN/±Infinity percent stored as NULL. `app_queries` also
replays each deterministic-limit reference template over the store's
parquet and compares it with the rows the engine returned.
"""
import collections
import math
import re

import duckdb

# Templates whose ORDER BY key has ties, so LIMIT may keep any of the tied
# rows: the positions of their sort-key columns.
TIE_KEYS = {"4": [1], "12": [1]}


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.10g}")
    return v


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _same_top_k(q, got, expected, full):
    """`got` is a valid answer to a LIMIT query whose order key has ties."""
    keys = TIE_KEYS.get(q)
    if keys is None or len(got) != len(expected):
        return False
    if collections.Counter(got) - collections.Counter(full):
        return False
    key = lambda rows: sorted((tuple(r[k] for k in keys) for r in rows), key=repr)
    return key(got) == key(expected)


def run(check):
    """Returns (checks attempted, list of failure messages)."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(
        "CREATE VIEW artifactmetadata AS SELECT * FROM read_parquet("
        f"'{check['meta']}/*/*.parquet', hive_partitioning = true)")
    con.execute("CREATE VIEW artifactmedia AS SELECT * FROM "
                f"read_parquet('{check['media']}/*.parquet')")
    con.execute("CREATE VIEW artifactcolors AS SELECT * FROM "
                f"read_parquet('{check['colors']}/*.parquet')")
    one = lambda sql: con.execute(sql).fetchone()[0]
    e = check["expect"]
    invariants = {
        "store rows = distinct ids offered":
            (one("SELECT count(*) FROM artifactmetadata"), e["records"]),
        "no duplicate ids":
            (one("SELECT count(DISTINCT id) FROM artifactmetadata"), e["records"]),
        "one media row per object":
            (one("SELECT count(*) FROM artifactmedia"), e["records"]),
        "no duplicate media ids":
            (one("SELECT count(DISTINCT objectid) FROM artifactmedia"), e["records"]),
        "descriptions <= 500 chars":
            (one("SELECT coalesce(max(length(description)), 0) <= 500 "
                 "FROM artifactmetadata"), True),
        "long descriptions cut at 500":
            (one("SELECT count(*) FROM artifactmetadata "
                 "WHERE length(description) = 500"), e["desc_at_cap"]),
        "color rows = first 5 colors offered":
            (one("SELECT count(*) FROM artifactcolors"), e["colors_rows"]),
        "<= 5 colors per object":
            (one("SELECT coalesce(max(n), 0) <= 5 FROM (SELECT count(*) AS n "
                 "FROM artifactcolors GROUP BY objectid)"), True),
        "NaN/inf stored as NULL":
            (one("SELECT count(*) FROM artifactcolors WHERE percent IS NULL"),
             e["null_percent"]),
        "no NaN/inf stored":
            (one("SELECT count(*) FROM artifactcolors "
                 "WHERE isnan(percent) OR isinf(percent)"), 0),
        "no orphan colors":
            (one("SELECT count(*) FROM artifactcolors c ANTI JOIN "
                 "artifactmetadata m ON c.objectid = m.id"), 0),
    }
    failures = [f"{name}: got {got}, want {want}"
                for name, (got, want) in invariants.items() if got != want]
    for q in check.get("queries", []):
        expected = _rows(con.execute(q["sql"]).fetchall())
        got = _rows(q["rows"])
        if got == expected:
            continue
        unlimited = re.sub(r"\s+LIMIT\s+\d+\s*$", "", q["sql"])
        full = _rows(con.execute(unlimited).fetchall())
        if not _same_top_k(q["id"], got, expected, full):
            failures.append(f"template {q['id']}: {len(got)} rows differ from "
                            f"DuckDB's {len(expected)}")
    con.close()
    return len(invariants), failures
