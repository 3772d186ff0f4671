"""Output checks against DuckDB, independent of the engine under test.

An output is reduced to its sorted column names, its row count and an
order-independent content digest: the sum, modulo 2**64, of a hash of
each row's canonical text. Canonical text follows tools/check.py's
normalization: columns in name order, timestamps at microsecond
precision, integral numbers equal whatever their type, other numbers
by their double value, lists element by element. The same SQL computes
the digest of the engine's output (read back from parquet) and of the
oracle's result, so both sides are normalized by one implementation.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
         "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}
_NUMS = ("FLOAT", "DOUBLE", "DECIMAL")


def _canon(expr, typ):
    """SQL turning `expr` of DuckDB type `typ` into canonical text."""
    typ = typ.upper()
    if typ.endswith("[]"):
        inner = _canon("x", typ[:-2])
        return f"CAST(list_transform({expr}, x -> {inner}) AS VARCHAR)"
    if typ in _INTS:
        return f"CAST({expr} AS VARCHAR)"
    if typ.startswith(_NUMS):
        d = f"CAST({expr} AS DOUBLE)"
        return (f"CASE WHEN isfinite({d}) AND {d} = trunc({d}) AND abs({d}) < 9007199254740992 "
                f"THEN CAST(CAST({d} AS HUGEINT) AS VARCHAR) ELSE CAST({d} AS VARCHAR) END")
    if typ.startswith("TIMESTAMP"):
        return f"CAST(epoch_us({expr}) AS VARCHAR)"
    return f"CAST({expr} AS VARCHAR)"


def digest(con, relation_sql):
    """(sorted column names, row count, digest) of a relation."""
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE {relation_sql}").fetchall())
    names = [c for c, _ in cols]
    if not cols:
        return names, 0, "0"
    row = " || chr(31) || ".join(
        "coalesce(" + _canon('"' + c + '"', t) + ", chr(0))" for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) % 18446744073709551616 "
        f"FROM ({relation_sql}) t").fetchone()
    return names, int(n), str(h)


def connect(data_dir):
    """DuckDB connection with one view per table of `data_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_sql(op):
    """The SQL whose digest an op's check frame must match."""
    if op.get("agg_exprs"):
        return f"SELECT {op['agg_exprs']} FROM ({op['sql']}) q"
    return op["sql"]


class Oracle:
    """Expected (names, rows, digest) per check SQL, cached on disk by the
    SQL and the data it runs over, so a size is computed once."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, op):
        """Expected check result of a planned op."""
        sql = check_sql(op)
        key = hashlib.sha256(f"{os.path.abspath(self.data_dir)}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        if self._con is None:
            self._con = connect(self.data_dir)
        names, rows, h = digest(self._con, f"({sql})")
        out = {"names": names, "rows": rows, "digest": h}
        with open(path + ".tmp", "w") as fh:
            json.dump(out, fh)
        os.replace(path + ".tmp", path)
        return out


def actual(con, parquet_dir):
    """(names, rows, digest) of an output the engine wrote as parquet."""
    return digest(con, f"(SELECT * FROM read_parquet('{parquet_dir}/*.parquet'))")
