"""Expected results from the DuckDB oracle (`SparkEntry.oracleSql`), in
the canonical form `Digest.scala` gives Spark's: columns in name order,
rows sorted, cells printed by one rule per value kind. Row and column
order are not part of a result, as in scripts/selfcheck.py.
"""
import datetime as dt
import decimal
import hashlib
import json
import os

import duckdb

NULL = "∅"
_CTX = decimal.Context(prec=15, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1)


def _dec(d):
    return "0" if d == 0 else format(d.normalize(), "f")


def cell(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return "0" if v == 0 else _dec(_CTX.create_decimal_from_float(v))
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 10**6 + d.microseconds)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("\u0001".join(cell(r[i]) for i in order) for r in rows)


def digest(columns, rows):
    body = "\u0001".join(sorted(columns)) + "\n" + "\n".join(canonical(columns, rows))
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def connect(tables_dir, extra_views=()):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tables_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    for v in extra_views:
        con.execute(v)
    return con


def run(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def files_key(tables_dir, sqls):
    h = hashlib.sha256()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            with open(os.path.join(tables_dir, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    h.update(json.dumps(sqls, sort_keys=True).encode())
    return h.hexdigest()[:24]


def expected_digests(tables_dir, sqls, cache_dir):
    """{query: digest} for the oracle SQL over the tables, cached on disk
    per (table bytes, SQL) so a repeated input pays the oracle once."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, files_key(tables_dir, sqls) + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = connect(tables_dir)
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            out[name] = digest(*run(con, sql))
        except Exception as e:  # noqa: BLE001 - an oracle error fails the query's check
            out[name] = f"oracle error: {type(e).__name__}: {e}"
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
