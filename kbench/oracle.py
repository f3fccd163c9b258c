"""Checks each op's output against an oracle that runs no engine code.

The harness writes every op's first output as canonical JSON
(`Canon.scala`): timestamps as epoch microseconds, dates as epoch days,
binary as hex, structs and arrays as lists. DuckDB runs the oracle SQL over
the generated parquet tables, and both sides pass through `norm` before the
column names (sorted) and the rows (as a sorted bag) are compared.
"""
import datetime
import decimal
import json
import math
import os

EPOCH = datetime.datetime(1970, 1, 1)
FLOAT_TOL = 1e-6


def norm(v):
    """One cell in comparable form: integral numbers as ints, other numbers
    as floats, timestamps as epoch microseconds (naive = UTC), dates as
    epoch days, bytes as hex, structs and lists as lists."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return [norm(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return str(v)


def term_lex(v):
    """A SPARQL result cell (kind, lex, dt, lang, num) as its lexical form."""
    return v[1] if isinstance(v, list) and len(v) == 5 else v


def _sort_key(row):
    return json.dumps([round(x, 6) if isinstance(x, float) else x for x in row])


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                and not isinstance(a, bool) and not isinstance(b, bool):
            return abs(a - b) <= FLOAT_TOL * max(1.0, abs(a), abs(b))
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal, else a one-line description of the first difference.
    Columns are matched by name; rows compare as bags."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(([norm(r[i]) for i in order] for r in rows), key=_sort_key)

    g, e = canon(got_cols, got_rows), canon(exp_cols, exp_rows)
    if len(g) != len(e):
        return f"{len(g)} rows, expected {len(e)}; got[:2]={g[:2]} expected[:2]={e[:2]}"
    for i, (a, b) in enumerate(zip(g, e)):
        if not _same(a, b):
            return f"row {i}: got {a} expected {b}"
    return None


class Oracle:
    """DuckDB over the generated tables; the engine's own code never runs."""

    TABLES = ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split()

    def __init__(self, data_dir, battery_sql, cache_dir):
        import duckdb
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        self.battery_sql = battery_sql
        self.cache_dir = cache_dir

    def expected(self, kind, oracle):
        """(columns, rows) the op must return. With a cache dir, a Battery
        entry's answer is computed once per data set."""
        if isinstance(oracle, dict):
            return oracle.get("columns", []), oracle["rows"]
        if kind != "battery":
            return self._run(oracle)
        if self.cache_dir is None:
            return self._run(self.battery_sql[oracle])
        path = os.path.join(self.cache_dir, f"{oracle}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        cols, rows = self._run(self.battery_sql[oracle])
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump([cols, [norm(list(r)) for r in rows]], f)
        os.replace(path + ".tmp", path)
        return cols, rows

    def _run(self, sql):
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def check(self, kind, oracle, result_file):
        """None when the op's output matches its oracle, else the error."""
        with open(result_file) as f:
            got = json.load(f)
        rows = got["rows"]
        if kind in ("sparql", "lsparql"):
            rows = [[term_lex(v) for v in r] for r in rows]
        cols, exp = self.expected(kind, oracle)
        return compare(got["columns"], rows, cols, exp)
