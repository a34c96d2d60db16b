"""Compares query outputs with their DuckDB oracle SQL.

Normalization follows the library's oracle gate: columns sorted by name,
rows sorted, floats compared by `repr` (bit-exact), NaN and null each
mapped to their own marker."""
import glob
import math
import os

NULL = "\x00NULL"


def normalize_value(v):
    if v is None:
        return NULL
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def normalize(rows, colnames):
    """(sorted column names, sorted rows of normalized values)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = sorted(tuple(normalize_value(r[i]) for i in order) for r in rows)
    return [colnames[i] for i in order], out


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal after normalization, else a one-line difference."""
    gc, gr = normalize(got_rows, got_cols)
    ec, er = normalize(exp_rows, exp_cols)
    if gc != ec:
        return f"columns differ: got {gc}, oracle {ec}"
    if gr != er:
        first = next((i for i, (a, b) in enumerate(zip(gr, er)) if a != b),
                     min(len(gr), len(er)))
        return f"{len(gr)} rows vs oracle {len(er)}; first difference at sorted row {first}"
    return None


def check(data_dir, check_dir, oracle_sql, names):
    """{name: problem} for every query in `names` whose written output
    differs from its oracle; a query without oracle SQL is a problem."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.splitext(os.path.basename(f))[0]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    problems = {}
    for name in names:
        sql = oracle_sql.get(name)
        out = os.path.join(check_dir, name)
        files = glob.glob(os.path.join(out, "*.parquet"))
        if sql is None:
            problems[name] = "no oracle SQL"
            continue
        if not files:
            problems[name] = "no output written"
            continue
        tbl = pq.read_table(out)
        got_cols = tbl.column_names
        got_rows = [tuple(r[c] for c in got_cols) for r in tbl.to_pylist()]
        try:
            cur = con.execute(sql)
            exp_rows = cur.fetchall()
            exp_cols = [d[0] for d in cur.description]
        except Exception as e:  # an oracle that cannot run is a failed check
            problems[name] = f"oracle error: {e}"[:300]
            continue
        diff = compare(got_cols, got_rows, exp_cols, exp_rows)
        if diff:
            problems[name] = diff
    con.close()
    return problems
