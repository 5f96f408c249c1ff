"""Expected outputs, computed with DuckDB from the SQL the generator emits,
and the comparison of the program's observed outputs against them.

An output is summarised as `(rows, hash)`: the row count and the sum over
rows of a 32-bit row digest. The digest is the first 8 hex digits of the MD5
of the row's canonical text, so it does not depend on row order. A row's
canonical text joins `name=value` for each non-null column, sorted by column
name, with U+0001; doubles render as whole cents. The JVM side
(`Canon.scala`) builds the same text from a DataFrame or a JSON reply.
"""
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

SEP = "\x01"


def canon_sql(con, query):
    """Wrap `query` so it returns `(rows, hash)` under the canonical digest."""
    rel = con.sql(query)
    parts = []
    for name, typ in sorted(zip(rel.columns, rel.types), key=lambda x: x[0]):
        col = '"' + name.replace('"', '""') + '"'
        t = str(typ).upper()
        render = (f"CAST(CAST(round({col} * 100) AS BIGINT) AS VARCHAR)" if t in ("DOUBLE", "FLOAT")
                  else f"CAST({col} AS VARCHAR)")
        parts.append(f"'{name}=' || {render}")
    digest = f"('0x' || substr(md5(concat_ws(chr(1), {', '.join(parts)})), 1, 8))::BIGINT"
    return (f"SELECT count(*)::BIGINT, coalesce(sum({digest}), 0)::BIGINT FROM ({query}) AS q")


def connect(inputs):
    """An in-memory DuckDB that spills, if ever, under the run's inputs."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(inputs, 'duckdb_tmp')}'")
    con.execute("SET enable_progress_bar = false")
    return con


def digest(con, query):
    n, h = con.sql(canon_sql(con, query)).fetchone()
    return {"rows": int(n), "hash": int(h)}


def digests(con, queries, prepare=lambda cur, key: None):
    """`digest` of each `(key, query)` on 4 threads, each with its own
    cursor; `prepare(cursor, key)` runs first on the same cursor."""
    def one(item):
        key, query = item
        cur = con.cursor()
        prepare(cur, key)
        return key, digest(cur, query)
    with ThreadPoolExecutor(4) as pool:
        return dict(pool.map(one, queries))


def expect_serve(inputs):
    """Per request: status 400 for an invalid rule, else 200 and the rows
    of the rule's SQL over the request's own payload."""
    import pyarrow as pa
    reqs = [json.loads(l) for l in open(os.path.join(inputs, "requests.jsonl"))]
    cols = {"req": []}
    names = ["CompanyCode", "Id", "IsActive", "LoginName", "NationalIdNumber", "RegNo", "Title"]
    for n in names:
        cols[n] = []
    for r in reqs:
        for u in json.loads(r["users"]):
            cols["req"].append(r["id"])
            for n in names:
                cols[n].append(u[n])
    users = pa.table({k: pa.array(v, type=pa.bool_() if k == "IsActive" else
                                  (pa.int32() if k == "req" else pa.string()))
                      for k, v in cols.items()})
    con = connect(inputs)
    con.register("users_arrow", users)
    con.execute("CREATE TABLE users AS SELECT * FROM users_arrow")

    def src(cur, req):  # the request's own payload, as `src`
        cur.execute(f"CREATE TEMP VIEW src AS SELECT * EXCLUDE (req) FROM users WHERE req = {req}")
    out = digests(con, [(r["id"], r["sql"]) for r in reqs if r["sql"] is not None], src)
    out = {k: {"status": 200, **v} for k, v in out.items()}
    out.update({r["id"]: {"status": 400} for r in reqs if r["sql"] is None})
    return out


def _table_con(inputs):
    con = connect(inputs)
    tdir = os.path.join(inputs, "tables")
    for f in sorted(os.listdir(tdir)):
        name = f.rsplit(".", 1)[0]
        con.execute(f"CREATE VIEW \"{name}\" AS SELECT * FROM read_parquet('{os.path.join(tdir, f)}')")
    return con


def expect_batch(inputs):
    con = _table_con(inputs)
    queries = [json.loads(l) for l in open(os.path.join(inputs, "queries.jsonl"))]
    return digests(con, [(q["id"], q["sql"]) for q in queries])


def expect_pipeline(inputs, oracles):
    """Each pipeline row's own oracle SQL (`SparkEntry.oracleSql`) over the
    generated tables."""
    con = _table_con(inputs)
    rows = json.load(open(os.path.join(inputs, "rows.json")))
    return {i: digest(con, oracles[name]) for i, name in enumerate(rows)}


def mismatch(expected, observed):
    """Why an observed output is wrong, or None when it is right.

    `observed` has `status` (0 when the call itself failed), `rows`, `hash`
    and `error`. An invalid rule is right only as a 400; any other output
    must match the expected row count and hash."""
    if expected is None:
        return "no expectation"
    want = expected.get("status", 200)
    if observed["status"] != want:
        return f"status {observed['status']}, expected {want}: {observed.get('error') or ''}"
    if want == 200 and (observed["rows"], observed["hash"]) != (expected["rows"], expected["hash"]):
        return (f"(rows, hash) = ({observed['rows']}, {observed['hash']}), "
                f"expected ({expected['rows']}, {expected['hash']})")
    return None
