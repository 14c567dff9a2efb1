"""DuckDB oracle compare, with the rules of the repository's local verify
script: sorted column names, type-strict (any TIMESTAMP counts as one type),
same row count, and cell-by-cell equality of repr() in output order."""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _norm_type(t):
    s = str(t).upper()
    return "TIMESTAMP" if s.startswith("TIMESTAMP") else s


def _sorted(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    types = [_norm_type(rel.types[i]) for i in idx]
    rows = [tuple(r[i] for i in idx) for r in rel.fetchall()]
    return cols, types, rows


def compare(tables_dir, checks):
    """Runs each check's oracle SQL over `tables_dir` and compares it with the
    Parquet output in the check's dir. Returns {name: error or None}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for c in checks:
        name, sql = c["name"], c["sql"]
        if sql is None:
            out[name] = None  # no oracle: the fingerprint check still applies
            continue
        try:
            want_cols, want_types, want = _sorted(con.sql(sql))
            got_cols, got_types, got = _sorted(con.sql(f"SELECT * FROM '{c['dir']}/*.parquet'"))
        except Exception as e:  # a failing oracle run is a failed check
            out[name] = f"exception {e}"
            continue
        if want_cols != got_cols:
            out[name] = f"columns oracle={want_cols} program={got_cols}"
        elif want_types != got_types:
            out[name] = f"types oracle={want_types} program={got_types}"
        elif len(want) != len(got):
            out[name] = f"rows oracle={len(want)} program={len(got)}"
        else:
            bad = next((i for i, (w, g) in enumerate(zip(want, got))
                        if tuple(map(_canon, w)) != tuple(map(_canon, g))), None)
            out[name] = None if bad is None else f"row {bad}: oracle={want[bad]} program={got[bad]}"
    con.close()
    return out
