"""DuckDB side of the `analytics` correctness check.

Runs each query's oracle SQL (the repository's own DuckDB mirror of the
Spark query) over the generated parquet tables and fingerprints the
result exactly as perfbench's Fingerprint.scala fingerprints the Spark
result: row count plus the sum mod 2^64 of each row's MD5 prefix over a
canonical text form, columns in name order.
"""
import datetime
import decimal
import hashlib
import struct

import duckdb

MASK = (1 << 64) - 1
EPOCH = datetime.datetime(1970, 1, 1)
UTC = datetime.timezone.utc


def _dbl(x):
    bits = struct.unpack(">Q", struct.pack(">d", 0.0 if x == 0 else x))[0]
    return "f" + format(bits, "x")


def enc(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return "d" + ("0" if v == 0 else format(v.normalize(), "f"))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(UTC).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "t" + str((v - EPOCH.date()).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(enc(x) for x in v.values()) + "}"
    return "?" + str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = 0
    for r in rows:
        text = "\x1f".join(enc(r[i]) for i in order)
        h = (h + int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8],
                                "big")) & MASK
    return len(rows), h, [columns[i] for i in order]


def to_signed(h):
    return h - (1 << 64) if h >= 1 << 63 else h


def expected(fixture_dir, tables, oracle_sql):
    """{query: (rows, signed hash, sorted columns)} or an error string."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            rel = con.sql(sql)
            n, h, cols = fingerprint(rel.columns, rel.fetchall())
            out[name] = (n, to_signed(h), cols)
        except Exception as e:  # a broken oracle is reported, not hidden
            out[name] = f"oracle error: {e}"
    con.close()
    return out
