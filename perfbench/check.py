"""Result hashing shared by the output check (run.py) and
make_reference.py, which writes the expected results.

The rules are those of the repository's DuckDB parity gate: columns
sorted by name, an md5 over the sorted multiset of rows with floats at
10 significant digits, and column types compared by class. They are
copied here rather than imported so that the benchmark's notion of a
correct result stays fixed while the repository's scripts change.
"""
import hashlib


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def table_hash(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def type_class(t):
    """DuckDB type -> comparison class: integer widths bucket together,
    HUGEINT, FLOAT and DOUBLE stay distinct, DECIMAL keeps its scale."""
    t = t.upper()
    if t.startswith("DECIMAL"):
        return t
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "INT"
    return {"HUGEINT": "INT128", "FLOAT": "FLOAT32", "DOUBLE": "FLOAT64"}.get(t, t)


def describe(con, query):
    """{column: type class, ...}, rows and hash of one query's result."""
    types = {r[0]: type_class(r[1]) for r in con.execute(f"DESCRIBE {query}").fetchall()}
    df = con.execute(query).df()
    return {"types": types, "rows": len(df), "hash": table_hash(df)}


def compare(got, want):
    """None when `got` matches the reference `want`, else the reason."""
    if sorted(got["types"]) != sorted(want["types"]):
        return f"columns {sorted(got['types'])} != {sorted(want['types'])}"
    diff = {c: (got["types"][c], want["types"][c]) for c in got["types"]
            if got["types"][c] != want["types"][c]}
    if diff:
        return f"types {diff}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return "value hash differs"
    return None
