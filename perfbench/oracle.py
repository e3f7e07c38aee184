"""Expected result digests from DuckDB, for the benchmark's output check.

Runs each query's oracle SQL (exported from `graft.SparkEntry.oracleSql`
at build time) in DuckDB over the same generated parquet tables, and
digests the result exactly as `perfbench.Digest` digests Spark's:
columns sorted by name, values canonicalized, per-row SHA-256 prefixes
summed modulo 2^64.
"""
import datetime as dt
import decimal
import glob
import hashlib
import os

import duckdb

_SIG = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)
_WIDE = decimal.Context(prec=100)
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DAY = dt.date(1970, 1, 1)


def _number(d):
    if d == 0:
        return "0"
    return format(d.normalize(_WIDE), "f")


def canon(v, is_map=False):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return _number(_SIG.create_decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "d" + str((v - _EPOCH_DAY).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        if is_map:
            return "{" + ",".join(sorted(canon(k) + ":" + canon(x)
                                         for k, x in v.items())) + "}"
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, types, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    maps = [str(t).upper().startswith("MAP") for t in types]
    total = 0
    for r in rows:
        s = "\u0001".join(canon(r[i], maps[i]) for i in order)
        h = hashlib.sha256(s.encode("utf-8")).digest()[:8]
        total += int.from_bytes(h, "big")
    names = ",".join(columns[i] for i in order)
    return f"{len(rows)}:{names}:{total % 2**64:016x}"


def expected_digests(data_dir, oracle_sql, names):
    """{query: digest or 'error: ...'} for each name with oracle SQL."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            continue
        try:
            rel = con.sql(sql)
            out[name] = digest(rel.columns, rel.types, rel.fetchall())
        except Exception as e:  # reported as a failed check by the JVM
            out[name] = "error: " + str(e).splitlines()[0][:200]
    con.close()
    return out
