"""Seeded input generator for the rule-engine benchmark.

Every input the program sees is made here from the seed: request payloads and
rules for `serve_rules`, parquet tables and rule queries for `batch_rules`,
and the tables the pipeline rows read for `pipeline_heavy`. The same seed
gives byte-identical files.

Each generated rule carries the equivalent DuckDB SQL (`sql`), written
independently of the engine's rule compiler; `check.py` runs it to compute
the expected output.

    python3 perfbench/gen.py --workload serve_rules --seed 1 --out /tmp/x
"""
import argparse
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- SQL helpers


def q(name):
    """DuckDB identifier quoting."""
    return '"' + name.replace('"', '""') + '"'


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def sql_lit(value, kind):
    """A rule Value as a DuckDB literal of the column's kind, mirroring the
    engine's documented coercion (string columns compare as strings, numeric
    columns as numbers, booleans as booleans)."""
    if kind == "bool":
        return "true" if value else "false"
    if kind == "int":
        return str(int(value))
    if kind == "dbl":
        return f"CAST({value!r} AS DOUBLE)"
    if isinstance(value, bool):
        return sql_str("true" if value else "false")
    if isinstance(value, (int, float)):
        return sql_str(str(value))
    return sql_str(value)


NUMERIC_OPS = {"GreaterThan": ">", "GreaterThanOrEqual": ">=",
               "LessThan": "<", "LessThanOrEqual": "<="}
DEC = "DECIMAL(38,18)"


def leaf_sql(cond, kinds):
    """DuckDB predicate for one `{Property, Operator, Value}` leaf."""
    prop, op, val = cond["Property"], cond["Operator"], cond.get("Value")
    kind = kinds[prop]
    c = q(prop)
    is_str = kind in ("str", "numstr", "text")
    if op in NUMERIC_OPS:
        if is_str:  # numeric lift: unparseable strings compare as null
            return f"(TRY_CAST({c} AS {DEC}) {NUMERIC_OPS[op]} CAST({sql_str(str(val))} AS {DEC}))"
        return f"({c} {NUMERIC_OPS[op]} {sql_lit(val, kind)})"
    if op == "Equal":
        return f"({c} IS NOT DISTINCT FROM {sql_lit(val, kind)})"
    if op == "NotEqual":
        return f"({c} IS DISTINCT FROM {sql_lit(val, kind)})"
    if op in ("In", "NotIn"):
        chain = " OR ".join(f"{c} IS NOT DISTINCT FROM {sql_lit(v, kind)}" for v in val) or "false"
        return f"({chain})" if op == "In" else f"(NOT ({chain}))"
    if op == "Contains":
        return f"contains({c}, {sql_str(val)})"
    if op == "NotContains":
        return f"(NOT contains({c}, {sql_str(val)}))"
    if op == "StartsWith":
        return f"starts_with({c}, {sql_str(val)})"
    if op == "EndsWith":
        return f"suffix({c}, {sql_str(val)})"
    if op == "Null":
        return f"({c} IS NULL)"
    if op == "NotNull":
        return f"({c} IS NOT NULL)"
    not_empty = f"({c} IS NOT NULL AND length({c}) > 0)" if is_str else f"({c} IS NOT NULL)"
    if op == "NotEmpty":
        return not_empty
    if op == "Empty":
        return f"(NOT {not_empty})"
    if op == "NullOrEmpty":
        return f"({c} IS NULL OR {c} = '')" if is_str else f"({c} IS NULL)"
    if op == "NotNullOrEmpty":
        return f"({c} IS NOT NULL AND {c} <> '')" if is_str else f"({c} IS NOT NULL)"
    if op in ("ContainIfCountIsGreater", "ContainIfCountIsLess", "MustContainIfCountIsGreater"):
        # every generated Target matches exactly one character, so the
        # match count is the number of characters the pattern removes
        s_ = f"CAST({c} AS VARCHAR)"
        n = f"(length({s_}) - length(regexp_replace({s_}, {sql_str(val['Target'])}, '', 'g')))"
        th = int(str(val.get("Threshold", 0)).strip())
        if op == "ContainIfCountIsLess":
            return f"({n} < {th})"
        if op == "ContainIfCountIsGreater":
            return f"({n} > {th})"
        return (f"({n} > {th} AND contains(lower(CAST({c} AS VARCHAR)), "
                f"lower({sql_str(val['Required'])})))")
    if op == "If":
        return (f"(CASE WHEN {leaf_sql(val['Check'], kinds)} "
                f"THEN {leaf_sql(val['Then'], kinds)} ELSE true END)")
    raise ValueError(f"no SQL for operator {op}")


def group_sql(g, kinds):
    parts = [leaf_sql(c, kinds) for c in g.get("Conditions", [])]
    parts += [group_sql(s, kinds) for s in g.get("Groups", [])]
    joiner = " OR " if g.get("LogicalOperator", "AND").upper() == "OR" else " AND "
    body = "(" + joiner.join(parts) + ")" if parts else "true"
    return f"(NOT coalesce({body}, false))" if g.get("Negate") else body


def rule_pred(rule, kinds):
    return group_sql(rule["Conditions"], kinds) if "Conditions" in rule else "true"


def rule_sql(rule, src, cols, kinds):
    """DuckDB SQL for one rule over relation `src` whose columns, in the
    engine's schema order, are `cols`. Min/Max mirror the engine's argmin/
    argmax: the whole row with the smallest/largest key per group, ties
    broken on the full row in schema order, nulls smallest."""
    where = rule_pred(rule, kinds)
    agg = rule.get("Aggregation")
    keys = ", ".join(q(k) for k in rule.get("GroupBy", []))
    if agg is None:
        return f"SELECT * FROM {src} WHERE {where}"
    fn = agg["AggregateFunction"].lower()
    if fn == "count":
        if keys:
            return f"SELECT {keys}, count(*) AS \"count\" FROM {src} WHERE {where} GROUP BY {keys}"
        return f"SELECT count(*) AS \"count\" FROM {src} WHERE {where}"
    prop = agg["AggregateProperty"]
    ordk = f"TRY_CAST({q(prop)} AS {DEC})" if kinds[prop] in ("str", "numstr", "text") else q(prop)
    d = "ASC NULLS FIRST" if fn == "min" else "DESC NULLS LAST"
    order = ", ".join([f"{ordk} {d}"] + [f"{q(c)} {d}" for c in cols])
    part = f"PARTITION BY {keys} " if keys else ""
    return (f"SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER ({part}ORDER BY {order}) "
            f"AS __rn FROM {src} WHERE {where}) WHERE __rn = 1")


def tag_sql(rules, src):
    """`RuleSetExecutor.tagAll`: every row plus one never-null flag per rule
    and their OR."""
    cols = [f"coalesce({p}, false) AS {q(n)}" for p, n in rules]
    any_ = " OR ".join(q(n) for _, n in rules)
    return f"SELECT *, ({any_}) AS \"__matched_any\" FROM (SELECT *, {', '.join(cols)} FROM {src})"


def nodes(g):
    """Size of a condition tree: leaves (an If counts its two inner leaves)
    plus groups."""
    if g is None:
        return 0
    n = 1
    for c in g.get("Conditions", []):
        n += 3 if c["Operator"] == "If" else 1
    return n + sum(nodes(s) for s in g.get("Groups", []))


# ------------------------------------------------------------ rule generation

FILTER_OPS = ["Equal", "NotEqual", "GreaterThan", "GreaterThanOrEqual", "LessThan",
              "LessThanOrEqual", "In", "NotIn", "Contains", "NotContains", "StartsWith",
              "EndsWith", "Null", "NotNull", "NotEmpty", "Empty", "NullOrEmpty",
              "NotNullOrEmpty", "MustContainIfCountIsGreater", "ContainIfCountIsGreater",
              "ContainIfCountIsLess", "If"]
VALUELESS = {"Null", "NotNull", "NotEmpty", "Empty", "NullOrEmpty", "NotNullOrEmpty"}


class RuleGen:
    """Random condition trees over a column catalog.

    `cols` maps a property to `(kind, sampler)`, where `sampler(rng)` draws a
    plausible value of that column (so that comparisons are selective)."""

    def __init__(self, rng, cols):
        self.rng, self.cols = rng, cols

    def ops_for(self, kind):
        """Operators that make sense on a column kind: ordered comparisons on
        numbers and number-like strings (the engine's numeric lift), string
        methods and regex counts on strings, emptiness tests everywhere."""
        nulls = ["Null", "NotNull", "NotEmpty", "Empty", "NullOrEmpty", "NotNullOrEmpty"]
        ordered = ["GreaterThan", "GreaterThanOrEqual", "LessThan", "LessThanOrEqual"]
        regex = ["MustContainIfCountIsGreater", "ContainIfCountIsGreater", "ContainIfCountIsLess"]
        strings = ["Contains", "NotContains", "StartsWith", "EndsWith"]
        if kind == "bool":
            return ["Equal", "NotEqual", "In", "NotIn"] + nulls
        if kind in ("int", "dbl"):
            return ["Equal", "NotEqual", "In", "NotIn", "NotNull"] + ordered
        if kind == "numstr":
            return ["Equal", "NotEqual", "In", "NotIn", "StartsWith"] + ordered + nulls + regex
        if kind == "text":
            return strings + ["Null", "NotNull", "NullOrEmpty"] + regex[1:]
        return ["Equal", "NotEqual", "In", "NotIn"] + strings + nulls + regex

    def leaf(self, op=None):
        rng = self.rng
        if op == "If":
            check = self.leaf_simple(("Equal", "NotEqual", "StartsWith", "GreaterThan"))
            then = self.leaf_simple(("Equal", "NotNull", "NotEmpty", "LessThan", "In"))
            return {"Property": check["Property"], "Operator": "If",
                    "Value": {"Check": check, "Then": then}}
        props = [p for p, (k, _) in self.cols.items() if op is None or op in self.ops_for(k)]
        prop = rng.choice(sorted(props))
        kind, sample = self.cols[prop]
        op = op or rng.choice(self.ops_for(kind))
        return self.make(prop, kind, sample, op)

    def leaf_simple(self, ops):
        for _ in range(100):
            prop = self.rng.choice(sorted(self.cols))
            kind, sample = self.cols[prop]
            cand = [o for o in ops if o in self.ops_for(kind)]
            if cand:
                return self.make(prop, kind, sample, self.rng.choice(cand))
        raise RuntimeError("no column fits")

    def make(self, prop, kind, sample, op):
        rng = self.rng
        cond = {"Property": prop, "Operator": op}
        if op in VALUELESS:
            cond["Value"] = None
        elif op in ("In", "NotIn"):
            cond["Value"] = sorted({sample(rng) for _ in range(rng.randint(1, 4))}, key=str)
        elif op in ("ContainIfCountIsGreater", "ContainIfCountIsLess"):
            cond["Value"] = {"Target": rng.choice(["[0-9]", "[a-z]", "a"]),
                             "Threshold": rng.choice(["1", "2", 3])}
        elif op == "MustContainIfCountIsGreater":
            cond["Value"] = {"Target": rng.choice(["[0-9]", "[a-z]"]),
                             "Required": rng.choice(["1", "a", "e"]), "Threshold": rng.choice(["1", 2])}
        elif op in ("Contains", "NotContains", "StartsWith", "EndsWith"):
            v = str(sample(rng) or "a")
            cond["Value"] = v[: rng.randint(1, max(1, min(3, len(v))))] if op != "EndsWith" else v[-2:]
        elif op in NUMERIC_OPS and kind == "numstr":
            digits = "".join(ch for ch in str(sample(rng)) if ch.isdigit())
            cond["Value"] = int(digits[:6] or "5000")
        else:
            cond["Value"] = sample(rng)
        return cond

    def group(self, depth=0, first_op=None, selective=False):
        """A condition group with 1-3 leaves and up to one nested group.
        `selective` makes the top level a plain AND of two leaves, so the
        rule keeps a minority of rows, as catalog rules over a table do."""
        rng = self.rng
        n = 2 if selective else rng.randint(1, 3)
        conds = [self.leaf(first_op if i == 0 else None) for i in range(n)]
        subs = [self.group(depth + 1) for _ in range(rng.randint(0, 1 if depth == 0 else 0))]
        top = selective and depth == 0
        g = {"LogicalOperator": "OR" if not top and rng.random() < 0.35 else "AND",
             "Negate": not top and rng.random() < 0.2, "Conditions": conds}
        if subs:
            g["Groups"] = subs
        return g


# ------------------------------------------------------------------ serve_rules

USER_COLS = ["Id", "NationalIdNumber", "LoginName", "RegNo", "Title", "CompanyCode", "IsActive"]
USER_KINDS = {"Id": "str", "NationalIdNumber": "numstr", "LoginName": "str", "RegNo": "numstr",
              "Title": "str", "CompanyCode": "str", "IsActive": "bool"}
TITLES = ["Manager", "Engineer", "Analyst", "Director", "Intern", ""]
NAMES = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi", "ivan", "judy"]
SERVE_POOL = 200
MAX_ROWS = 5000


def user_samplers():
    return {
        "Id": ("str", lambda r: f"u{r.randint(0, 400)}"),
        "NationalIdNumber": ("numstr", lambda r: str(r.randint(10**10, 10**11 - 1))),
        "LoginName": ("str", lambda r: f"{r.choice(NAMES)}{r.randint(0, 9)}"),
        "RegNo": ("numstr", lambda r: str(r.randint(1, 999_999))),
        "Title": ("str", lambda r: r.choice(TITLES)),
        "CompanyCode": ("str", lambda r: f"C{r.randint(1, 8)}"),
        "IsActive": ("bool", lambda r: r.random() < 0.5),
    }


def users(rng, m):
    """`m` User-shaped rows: six strings (RegNo and NationalIdNumber
    number-like) plus IsActive, with some null and empty values. Numeric
    RegNo values are distinct within a payload, so argmin/argmax on RegNo
    has no ties among parseable keys."""
    regs = rng.sample(range(1, 1_000_000), m)
    rows = []
    for j in range(m):
        u = rng.random()
        reg = str(regs[j]).zfill(7) if u < 0.3 else str(regs[j])
        if u > 0.96:
            reg = None
        elif u > 0.93:
            reg = ""
        elif u > 0.89:
            reg = f"X{regs[j]}"
        nid = str(rng.randint(10**10, 10**11 - 1))
        v = rng.random()
        if v < 0.04:
            nid = None
        elif v < 0.07:
            nid = ""
        elif v < 0.12:
            nid = nid[:5] + "a" + nid[6:]
        a = rng.random()
        rows.append({
            "Id": f"u{j}",
            "NationalIdNumber": nid,
            "LoginName": None if rng.random() < 0.03 else f"{rng.choice(NAMES)}{rng.randint(0, 9)}",
            "RegNo": reg,
            "Title": None if rng.random() < 0.05 else rng.choice(TITLES),
            "CompanyCode": None if rng.random() < 0.04 else f"C{rng.randint(1, 8)}",
            "IsActive": True if a < 0.6 else (False if a < 0.95 else None),
        })
    return rows


def invalid_rule(rng, i):
    kind = i % 5
    if kind == 0:
        return {"Name": "bad-prop", "Conditions": {"Conditions": [
            {"Property": "Salary", "Operator": "GreaterThan", "Value": 10}]}}
    if kind == 1:
        return {"Name": "groupby-no-agg", "GroupBy": ["CompanyCode"]}
    if kind == 2:
        return {"Name": "bad-agg", "GroupBy": ["CompanyCode"],
                "Aggregation": {"AggregateProperty": "RegNo", "AggregateFunction": "Avg"}}
    if kind == 3:
        return {"Name": "bad-op", "Conditions": {"Conditions": [
            {"Property": "Title", "Operator": "Between", "Value": ["A", "M"]}]}}
    return {"Name": "bad-agg-prop", "GroupBy": ["Title"],
            "Aggregation": {"AggregateProperty": "Bonus", "AggregateFunction": "Max"}}


def gen_serve(seed, out):
    """A pool of SERVE_POOL requests. The mix is fixed by quota, so every
    seed has the same shape: 5% invalid rules, 25% group-by argmin/argmax/
    Count, the rest filters; payload sizes are a stratified log-uniform draw
    over 1..MAX_ROWS (one draw per equal-probability stratum)."""
    rng = random.Random(seed)
    n_invalid = SERVE_POOL // 20
    n_agg = SERVE_POOL // 4
    shapes = (["invalid"] * n_invalid + ["count", "argmin", "argmax"] * (n_agg // 3)
              + ["argmin"] * (n_agg % 3))
    shapes += ["filter"] * (SERVE_POOL - len(shapes))
    rng.shuffle(shapes)
    sizes = [max(1, min(MAX_ROWS, round(math.exp(math.log(MAX_ROWS) * (i + rng.random()) / SERVE_POOL))))
             for i in range(SERVE_POOL)]
    rng.shuffle(sizes)
    gen = RuleGen(rng, user_samplers())
    cols = sorted(USER_COLS)  # JSON schema inference orders fields by name
    reqs, n_filter = [], 0
    for i, (shape, m) in enumerate(zip(shapes, sizes)):
        rows = users(rng, m)
        if shape == "invalid":
            rule = invalid_rule(rng, i)
        elif shape == "filter":
            # the first leaf of each filter rule walks the operator list, so
            # every operator is in every pool
            rule = {"Name": f"r{i}", "Conditions": gen.group(first_op=FILTER_OPS[n_filter % len(FILTER_OPS)])}
            n_filter += 1
        else:
            rule = {"Name": f"r{i}"}
            if rng.random() < 0.5:
                rule["Conditions"] = gen.group()
            rule["GroupBy"] = rng.choice([[], ["CompanyCode"], ["CompanyCode"], ["Title"],
                                          ["CompanyCode", "IsActive"]])
            prop = "Id" if shape == "count" else rng.choice(["RegNo", "RegNo", "RegNo", "NationalIdNumber"])
            rule["Aggregation"] = {"AggregateProperty": prop, "AggregateFunction":
                                   {"count": "Count", "argmin": "Min", "argmax": "Max"}[shape]}
        reqs.append({
            "id": i, "shape": shape, "rows": m,
            "nodes": nodes(rule.get("Conditions")),
            "rule": json.dumps(rule, separators=(",", ":")),
            "users": json.dumps(rows, separators=(",", ":")),
            "sql": None if shape == "invalid" else rule_sql(rule, "src", cols, USER_KINDS),
        })
    path = os.path.join(out, "requests.jsonl")
    with open(path, "w") as f:
        for r in reqs:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
    sz = sorted(sizes)
    return {
        "pool": SERVE_POOL,
        "share_aggregating": round(sum(s in ("count", "argmin", "argmax") for s in shapes) / SERVE_POOL, 4),
        "share_invalid": round(n_invalid / SERVE_POOL, 4),
        "payload_rows_quartiles": [sz[len(sz) // 4], sz[len(sz) // 2], sz[3 * len(sz) // 4]],
        "payload_rows_total": sum(sizes),
        "operators_covered": len(FILTER_OPS),
    }


# ---------------------------------------------------------------- data tables

WORDS = ["scan", "join", "filter", "fast", "slow", "table", "part", "order", "query", "rule",
         "agg", "key", "value", "batch", "stream", "line", "sort", "group", "merge", "window"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]


def _strs(rng, choices, n, null_share=0.0):
    idx = rng.integers(0, len(choices), n)
    arr = np.asarray(choices, dtype=object)[idx]
    mask = rng.random(n) < null_share if null_share else None
    return pa.array(arr, type=pa.string(), mask=mask)


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)


def _phrases(rng, n, words=3):
    w = np.asarray(WORDS, dtype=object)
    out = w[rng.integers(0, len(WORDS), n)]
    for _ in range(words - 1):
        out = out + " " + w[rng.integers(0, len(WORDS), n)]
    return out


def gen_tables(seed, out, scale):
    """TPC-H-shaped tables (lineitem, orders, customer) and an events table.
    `scale` 1.0 gives 150k orders, ~600k lineitem rows, 15k customers and
    100k events. Column kinds are limited to those both engines render
    identically (integers, two-decimal doubles, strings)."""
    rng = np.random.default_rng(seed)
    n_orders, n_cust, n_part = int(150_000 * scale), int(15_000 * scale), int(20_000 * scale)
    n_events = int(100_000 * scale)
    okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4  # sparse keys, like TPC-H
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_ok = np.repeat(okeys, lines)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.integers(90_000, 200_000, n_li) / 100.0, 2)
    comment = _phrases(rng, n_li)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, max(2, n_part // 20) + 1, n_li).astype(np.int64),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _strs(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _strs(rng, ["F", "O"], n_li),
        "l_shipmode": _strs(rng, SHIPMODES, n_li),
        "l_shipdate": (19920000 + rng.integers(0, 7, n_li) * 10000
                       + rng.integers(1, 13, n_li) * 100 + rng.integers(1, 29, n_li)).astype(np.int32),
        "l_comment": pa.array(comment, type=pa.string(), mask=rng.random(n_li) < 0.02),
    })
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": _strs(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _cents(rng, 850, 500_000, n_orders),
        "o_orderdate": (19920101 + rng.integers(0, 7, n_orders) * 10000).astype(np.int32),
        "o_orderpriority": _strs(rng, PRIORITIES, n_orders),
        "o_clerk": pa.array(["Clerk#" + str(x).zfill(9) for x in rng.integers(1, 1000, n_orders)]),
    })
    regno = rng.integers(1, 10_000_000, n_cust).astype(str).astype(object)
    pad = rng.random(n_cust) < 0.3
    regno[pad] = np.char.zfill(regno[pad].astype(str), 8)
    bad = rng.random(n_cust) < 0.03
    regno[bad] = "N/A"
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": pa.array(["Customer#" + str(i).zfill(9) for i in range(1, n_cust + 1)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999, 9_999, n_cust),
        "c_mktsegment": _strs(rng, SEGMENTS, n_cust, null_share=0.02),
        "c_regno": pa.array(regno, type=pa.string(), mask=rng.random(n_cust) < 0.03),
        "c_comment": pa.array(_phrases(rng, n_cust, 4), type=pa.string()),
    })
    events = pa.table({
        "event_id": np.arange(1, n_events + 1, dtype=np.int64),
        "ts": (1_700_000_000 + rng.integers(0, 86_400 * 30, n_events)).astype(np.int64),
        "user_id": rng.integers(1, 5_000, n_events).astype(np.int64),
        "event_type": _strs(rng, EVENT_TYPES, n_events),
        "value": _cents(rng, 0, 1_000, n_events),
        "props": pa.array(_phrases(rng, n_events, 2), type=pa.string(), mask=rng.random(n_events) < 0.05),
    })
    tables = {"lineitem": lineitem, "orders": orders, "customer": customer, "events": events}
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir, exist_ok=True)
    for name, t in tables.items():
        # several row groups per file so a 4-core scan splits it
        pq.write_table(t, os.path.join(tdir, f"{name}.parquet"), row_group_size=50_000,
                       compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}, tables


def kinds_of(table):
    out = {}
    for f in table.schema:
        if pa.types.is_integer(f.type):
            out[f.name] = "int"
        elif pa.types.is_floating(f.type):
            out[f.name] = "dbl"
        elif f.name in ("l_comment", "c_comment", "props"):
            out[f.name] = "text"
        elif f.name == "c_regno":
            out[f.name] = "numstr"
        else:
            out[f.name] = "str"
    return out


def samplers_of(table):
    """Per-column value samplers over the table's own values. A sampler
    draws a rank, not a value: with the same generator state it returns the
    same quantile of the column whatever the seed's data, so a constant keeps
    its selectivity from seed to seed. The values come from 2000 rows spread
    evenly over the table, so a rank maps to a quantile of the whole column,
    sorted key columns included."""
    out = {}
    kinds = kinds_of(table)
    spread = table.take(np.linspace(0, table.num_rows - 1, 2000).astype(np.int64))
    for name in table.column_names:
        vals = [v for v in spread.column(name).to_pylist() if v is not None]
        kind = kinds[name]
        if kind == "text":
            vals = [w for v in vals[:50] for w in v.split()]
        vals = sorted(set(vals), key=lambda v: (str(type(v)), v))
        out[name] = (kind, (lambda vs: lambda r: vs[int(r.random() * len(vs))])(vals))
    return out


# ----------------------------------------------------------------- batch_rules

# (route, shape, table) quotas of one batch pool; set sizes for rule catalogs
BATCH_POOL = (
    [("eval", "filter", t) for t in ["lineitem"] * 4 + ["orders", "events"]]
    + [("eval", "argext", t) for t in ["lineitem", "customer", "orders"]]
    + [("eval", "count", t) for t in ["lineitem", "events"]]
    + [("executeAll", "ruleset", t) for t in ["orders", "customer", "customer"]]
    + [("tagAll", "ruleset", "customer")] * 2
    + [("tvf_rule", "tvf", t) for t in ["lineitem", "orders", "lineitem", "customer", "orders"]]
    + [("tvf_rules", "tvf", t) for t in ["orders", "orders", "customer"]]
)
EXECUTE_ALL_SIZES = [2, 20, 80]
TAG_ALL_SIZES = [10, 60]
TVF_RULES_SIZES = [2, 5, 20]
# tvf_rule shapes in pool order
TVF_RULE_SHAPES = ["filter", "filter", "argext", "argext", "count"]
# one rule in this many of a rule set is an argmin/argmax rule (they union
# with filter rules; each one is a scan and a shuffle of its own)
ARGEXT_EVERY = 25

GROUP_KEYS = {"lineitem": [["l_returnflag"], ["l_shipmode"], ["l_returnflag", "l_linestatus"]],
              "orders": [["o_orderpriority"], ["o_orderstatus"], []],
              "customer": [["c_mktsegment"], ["c_nationkey"], []],
              "events": [["event_type"], []]}
ARG_PROPS = {"lineitem": ["l_extendedprice", "l_quantity", "l_partkey"],
             "orders": ["o_totalprice", "o_custkey"],
             "customer": ["c_regno", "c_regno", "c_acctbal"],
             "events": ["value", "ts"]}


BATCH_TEMPLATES = 20240601


def batch_rule(rng, gens, table, shape, name):
    """One rule over `table`: a catalog-style condition group (an AND of
    two random leaves at the top) and, for argext and count, a group-by."""
    rule = {"Name": name}
    if shape == "filter" or rng.random() < 0.5:
        rule["Conditions"] = gens[table].group(selective=True)
    if shape in ("argext", "count"):
        rule["GroupBy"] = rng.choice(GROUP_KEYS[table])
        if shape == "count":
            rule["Aggregation"] = {"AggregateProperty": next(iter(gens[table].cols)),
                                   "AggregateFunction": "Count"}
        else:
            rule["Aggregation"] = {"AggregateProperty": rng.choice(ARG_PROPS[table]),
                                   "AggregateFunction": rng.choice(["Min", "Max"])}
    return rule


def gen_batch(seed, out, scale=1.0):
    rows, tables = gen_tables(seed, out, scale)
    # The query catalog is fixed, like a benchmark's query templates: every
    # seed gets the same rule shapes, and constants at the same quantiles of
    # its own data. The seed draws the data. Every seed then times the same
    # mix of queries, so the spread between runs measures the program, not a
    # reshuffled workload.
    rng = random.Random(BATCH_TEMPLATES)
    gens = {t: RuleGen(rng, samplers_of(tables[t])) for t in tables}
    kinds = {t: kinds_of(tables[t]) for t in tables}
    cols = {t: tables[t].column_names for t in tables}
    ea, ta, tr, trs = iter(EXECUTE_ALL_SIZES), iter(TAG_ALL_SIZES), iter(TVF_RULE_SHAPES), iter(TVF_RULES_SIZES)
    queries = []
    for i, (route, shape, t) in enumerate(BATCH_POOL):
        src = q(t)
        item = {"id": i, "route": route, "shape": shape, "table": t, "table_rows": rows[t]}
        if route in ("eval", "tvf_rule"):
            rshape = shape if route == "eval" else next(tr)
            rule = batch_rule(rng, gens, t, rshape, f"r{i}")
            item["rule"] = json.dumps(rule, separators=(",", ":"))
            item["sql"] = rule_sql(rule, src, cols[t], kinds[t])
            item["nodes"] = nodes(rule.get("Conditions"))
            item["rule_shape"] = rshape
        else:
            size = next({"executeAll": ea, "tagAll": ta, "tvf_rules": trs}[route])
            rules = []
            for j in range(size):
                # argmin/argmax rules keep the row shape, so they union with
                # filter rules; tagAll takes filter rules only
                rshape = "argext" if route != "tagAll" and j % ARGEXT_EVERY == ARGEXT_EVERY - 1 else "filter"
                rules.append(batch_rule(rng, gens, t, rshape, f"r{i}_{j}"))
            item["rules"] = json.dumps(rules, separators=(",", ":"))
            item["size"] = size
            item["nodes"] = sum(nodes(r.get("Conditions")) for r in rules)
            if route == "tagAll":
                item["sql"] = tag_sql([(rule_pred(r, kinds[t]), r["Name"]) for r in rules], src)
            else:
                filters = [rule_pred(r, kinds[t]) for r in rules if "Aggregation" not in r]
                parts = ([f"SELECT * FROM {src} WHERE " + " OR ".join(filters)] if filters else [])
                parts += [rule_sql(r, src, cols[t], kinds[t]) for r in rules if "Aggregation" in r]
                item["sql"] = "SELECT DISTINCT * FROM (" + " UNION ALL ".join(
                    f"({p})" for p in parts) + ")"
        queries.append(item)
    with open(os.path.join(out, "queries.jsonl"), "w") as f:
        for item in queries:
            f.write(json.dumps(item, separators=(",", ":")) + "\n")
    return {
        "pool": len(queries),
        "table_rows": rows,
        "routes": {r: sum(1 for x in queries if x["route"] == r) for r in
                   ["eval", "executeAll", "tagAll", "tvf_rule", "tvf_rules"]},
        "rule_set_sizes": EXECUTE_ALL_SIZES + TAG_ALL_SIZES + TVF_RULES_SIZES,
        "share_aggregating": round(sum(1 for x in queries if x.get("rule_shape") in ("argext", "count"))
                                   / len(queries), 4),
    }


# -------------------------------------------------------------- pipeline_heavy

PIPELINE_ROWS = ["q_clustering", "q_change_feed"]
PIPELINE_SCALE = 0.03


def gen_pipeline(seed, out):
    rows, _ = gen_tables(seed, out, PIPELINE_SCALE)
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump(PIPELINE_ROWS, f)
    return {"rows": PIPELINE_ROWS, "table_rows": rows}


GENERATORS = {"serve_rules": gen_serve, "batch_rules": gen_batch, "pipeline_heavy": gen_pipeline}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    stats = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "mix.json"), "w") as f:
        json.dump(stats, f, sort_keys=True)
    return stats


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))
