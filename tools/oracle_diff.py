#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps key by key.

Usage: python3 tools/oracle_diff.py <old oracle_sql.json> <new oracle_sql.json> <sfDir>...

The inputs are the oracle_sql.json files graft.Verify writes next to its
per-query dumps. For each key the script prints one line:

  SAME-TEXT  the two SQL texts are equal after whitespace normalisation
  SAME-ROWS  the texts differ, but on every sfDir both run in DuckDB and
             return the same column names and the same rows in the same order
  FAIL       anything else: the rows differ, either SQL errors, or the key
             is in only one dump

Whitespace normalisation works outside string literals (and outside
double-quoted identifiers and `--` comments): each whitespace run becomes
one space, and whitespace next to `(`, `)` or `,` is dropped, since SQL
never needs it there. It exits non-zero if any key is FAIL.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TIGHT = "(),"


def normalise(sql):
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            j = i + 1
            while j < n and not (sql[j] == c and (j + 1 >= n or sql[j + 1] != c)):
                j += 2 if sql[j] == c else 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j + 1
            out.append(sql[i:j])
            i = j
        elif c.isspace():
            while i < n and sql[i].isspace():
                i += 1
            prev = out[-1][-1] if out and out[-1] else ""
            nxt = sql[i] if i < n else ""
            if prev and nxt and prev not in TIGHT and nxt not in TIGHT:
                out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out)


def connect(sfdir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def run(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], [tuple(map(repr, r)) for r in cur.fetchall()]


def compare(old, new, cons):
    """'' when both SQLs give the same columns and rows on every dir,
    else the first difference."""
    for sfdir, con in cons:
        try:
            a, b = run(con, old), run(con, new)
        except Exception as e:  # noqa: BLE001 — any DuckDB error is a FAIL
            return f"{sfdir}: {e}"
        if a[0] != b[0]:
            return f"{sfdir}: columns {a[0]} vs {b[0]}"
        if a[1] != b[1]:
            return f"{sfdir}: rows differ ({len(a[1])} vs {len(b[1])})"
    return ""


def main(old_path, new_path, sfdirs):
    old, new = json.load(open(old_path)), json.load(open(new_path))
    cons = [(d, connect(d)) for d in sfdirs]
    n_fail = 0
    for key in sorted(set(old) | set(new)):
        if key not in old or key not in new:
            print(f"FAIL       {key}: only in the {'new' if key in new else 'old'} dump")
            n_fail += 1
        elif normalise(old[key]) == normalise(new[key]):
            print(f"SAME-TEXT  {key}")
        elif not cons:
            print(f"FAIL       {key}: text differs and no sfDir was given")
            n_fail += 1
        else:
            why = compare(old[key], new[key], cons)
            print(f"FAIL       {key}: {why}" if why else f"SAME-ROWS  {key}")
            n_fail += bool(why)
    print(f"\n{len(set(old) | set(new))} keys, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
