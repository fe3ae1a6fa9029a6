"""DuckDB cross-check of one result against graft's oracle SQL.

The same rule as tools/compare.py (the repository's correctness gate):
columns compared by name, rows sorted, every value compared as text.
DuckDB reads the run's own corpus and result parquet and spills, if it
must, inside the run's work directory.
"""
import os

import duckdb


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(str(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows)


def compare(entry):
    """(ok, detail) for one {"key", "path", "sql"} oracle entry."""
    path = entry["path"]
    work = os.path.dirname(os.path.dirname(path))
    corpus = os.path.join(work, "corpus")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        con.execute("SET threads=2")
        con.execute("SET enable_progress_bar=false")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
        got_cols, got = _rows(con, f"SELECT * FROM '{path}/*.parquet'")
        want_cols, want = _rows(con, entry["sql"])
    except Exception as e:  # an oracle that cannot run is a failed check
        return False, f"error: {e}"[:300]
    finally:
        con.close()
    if got_cols != want_cols:
        return False, f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != oracle {len(want)}"
    for g, w in zip(got, want):
        if g != w:
            return False, f"row {g[:4]} != oracle {w[:4]}"
    return True, f"{len(got)} rows"
