"""Output check: order-insensitive result digests, and the DuckDB oracle.

A digest canonicalises a result table the way the repo's oracle compare
does (columns sorted by name, rows sorted, values compared exactly) and
hashes it, so a Spark output and the DuckDB run of its `OracleSql` entry
match iff their digests do. Numbers are normalised across integer, float
and decimal types; map entries are sorted; NaN and null are one value.
"""
import decimal
import hashlib
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _canon(v, t):
    if v is None:
        return None
    if pa.types.is_map(t):
        return tuple(sorted(((_canon(k, t.key_type), _canon(x, t.item_type))
                             for k, x in v), key=repr))
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return tuple(_canon(x, t.value_type) for x in v)
    if pa.types.is_struct(t):
        return tuple((f.name, _canon(v[f.name], f.type)) for f in t)
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if f != f:
            return None
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2 ** 53):
            return int(v)
        return repr(f)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest(table):
    """Hex digest of a pyarrow Table that ignores column and row order."""
    names = sorted(table.column_names)
    cols = [[_canon(v, table.schema.field(n).type) for v in table.column(n).to_pylist()]
            for n in names]
    rows = sorted(repr(r) for r in zip(*cols)) if cols else []
    h = hashlib.sha256(json.dumps(names).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


def token_vector_strings(table):
    """The token_vectors sink's map column in q17's string form:
    "token_id:qty,..." sorted by token_id."""
    i = table.column_names.index("compressed_token_vector")
    rendered = pa.array(
        [None if m is None else ",".join(f"{k}:{q}" for k, q in sorted(m))
         for m in table.column(i).to_pylist()], pa.string())
    return table.set_column(i, "compressed_token_vector", rendered)


def expected_digests(input_dir, sql_by_name, cache_path, threads, tmp_dir):
    """name -> digest of DuckDB running `sql` on the input tables, cached in
    `cache_path` by the SQL text so an oracle change is never served stale.
    A query DuckDB cannot run maps to an "error: ..." string."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    key = {n: hashlib.sha256(s.encode()).hexdigest()[:16] for n, s in sql_by_name.items()}
    todo = [n for n in sql_by_name if cache.get(n, {}).get("sql") != key[n]]
    if todo:
        con = duckdb.connect()
        con.execute(f"SET threads = {int(threads)}")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(input_dir, f)}')")
        for n in todo:
            try:
                d = digest(con.execute(sql_by_name[n]).arrow())
            except Exception as e:  # reported as a mismatch, never raised
                d = f"error: {str(e)[:200]}"
            cache[n] = {"sql": key[n], "digest": d}
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[n]["digest"] for n in sql_by_name}
