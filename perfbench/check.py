"""Order-independent output hashes, compared the way ``tools/selfcheck.py``
compares Spark output with the DuckDB oracle: columns sorted by name, cells
normalised (floats rounded to 9 places, small ints as floats, NaN and
other types as strings), rows sorted."""
import hashlib
import math


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    return str(v)


def norm_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [names[i] for i in order], out


def digest(names, rows):
    """(row count, sha256) of a result in normalised form."""
    n, r = norm_rows(names, rows)
    return len(r), hashlib.sha256(repr((n, r)).encode()).hexdigest()


def parquet_digest(path):
    import pyarrow.parquet as pq
    tbl = pq.read_table(str(path))
    names = tbl.column_names
    return digest(names, [tuple(r[c] for c in names) for r in tbl.to_pylist()])


def oracle_digest(inputs, sql):
    """Digest of ``sql`` run in DuckDB over every ``<table>.parquet`` in the
    directory ``inputs``, each registered as a view named ``<table>``."""
    import duckdb
    from pathlib import Path
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for f in sorted(Path(inputs).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    res = con.execute(sql)
    names = [c[0] for c in res.description]
    return digest(names, res.fetchall())
