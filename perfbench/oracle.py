"""Expected query results from DuckDB, as the digests `Canon.scala` computes
on the Spark side: columns sorted by name, each value rendered canonically,
each row hashed (first 8 bytes of its MD5) and the row hashes summed modulo
2^64. Results are cached by input fingerprint."""
import datetime as dt
import decimal
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)


SIG = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)  # Canon.SigDigits


def _num(x):
    """A number as a double rounded to 12 significant digits (`Canon.num`)."""
    x = float(x)
    if x != x:
        return "nan"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    d = SIG.plus(decimal.Decimal(x)).normalize(SIG)
    if d == d.to_integral_value():
        return str(int(d))
    sign, digits, exp = d.as_tuple()
    return "d" + ("-" if sign else "") + "".join(map(str, digits)) + "e" + str(exp)


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v) if abs(v) < 2**53 else _num(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return str((v - EPOCH.date()).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(value(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return "?" + str(v)


def _row_hash(s):
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big", signed=True)


def lines(names, rows):
    """Sorted column names, then one canonical line per row (`Canon.lines`)."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ["\x01".join(names[i] for i in order)] + [
        "\x01".join(value(r[i]) for i in order) for r in rows]


def digest(names, rows):
    """(rows, digest) as a signed 64-bit int, like `Canon.digest`."""
    total = sum(_row_hash(s) for s in lines(names, rows)) % 2**64
    return len(rows), total - 2**64 if total >= 2**63 else total


def fingerprint(data_dir, *extra):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as fh:
                h.update(t.encode() + hashlib.sha256(fh.read()).digest())
    for e in extra:
        h.update(str(e).encode())
    return h.hexdigest()[:20]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, '.duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def expected(data_dir, names, oracle_json, cache_dir):
    """{name: [rows, digest]} for every name with an oracle query."""
    with open(oracle_json) as fh:
        sql = {n: s for n, s in json.load(fh).items() if n in names}
    with open(__file__, "rb") as fh:
        own = hashlib.sha256(fh.read()).hexdigest()
    key = fingerprint(data_dir, json.dumps(sql, sort_keys=True), own)
    path = os.path.join(cache_dir, f"expected_{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = _connect(data_dir)
    out = {}
    for n, s in sorted(sql.items()):
        cur = con.execute(s)
        cols = [d[0] for d in cur.description]
        out[n] = list(digest(cols, cur.fetchall()))
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out

