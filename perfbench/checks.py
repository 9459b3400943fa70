"""Output checks, computed without the program.

`audit` compares each result row of an audit workload with the values the
archive generator computed from the rows it wrote. `oracles` compares each
gate's result with its `SparkEntry.oracleSql` twin run in DuckDB, the way
the repository's `tools/check.py` does: sorted column names, Arrow types,
row count, then values (floats to 9 places; a difference in row order
alone passes).

Both return {unit: reason} for the archives or gates whose outputs are wrong.
"""
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _lookup(doc, path):
    for key in path.split("/"):
        if not isinstance(doc, dict) or key not in doc:
            return KeyError(path)
        doc = doc[key]
    return doc


def _same(got, want):
    if isinstance(want, float) or isinstance(got, float):
        if isinstance(got, bool) or not isinstance(got, (int, float)) \
                or not isinstance(want, (int, float)):
            return False
        return math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12)
    return type(got) is type(want) and got == want


def audit(rows_path, expected):
    rows = {}
    with open(rows_path) as f:
        for line in f:
            r = json.loads(line)
            rows.setdefault(r["name"], []).append(r)
    bad = {}
    for name in set(rows) - set(expected):
        bad[name] = "result row for an archive the generator did not write"
    for name, exp in expected.items():
        rs = rows.get(name, [])
        if len(rs) != 1:
            bad[name] = f"{len(rs)} result rows, expected 1"
            continue
        r = rs[0]
        if not r["ok"]:
            bad[name] = "ok=false: " + r["error"]
            continue
        docs = {k: json.loads(r[k]) for k in ("normalized", "scores", "manifest")}
        for doc, fields in exp.items():
            wrong = [(p, _lookup(docs[doc], p), want) for p, want in fields.items()
                     if not _same(_lookup(docs[doc], p), want)]
            if wrong:
                p, got, want = wrong[0]
                bad[name] = f"{doc} {p}: got {got!r}, expected {want!r}"
                break
    return bad


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(_canon(r[i]) for i in order) for r in rows]


def _types(con, sql):
    sch = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow().schema
    names = {"large_string": "string", "large_binary": "binary"}
    return {f.name: names.get(str(f.type), str(f.type)) for f in sch}


def oracles(sf_dir, out_dir, sql_path, gates):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    with open(sql_path) as f:
        sqls = json.load(f)
    bad = {}
    for g in gates:
        if g not in sqls:
            continue  # the harness already reported the gate
        spark_sql = f"SELECT * FROM read_parquet('{os.path.join(out_dir, g)}/*.parquet')"
        try:
            got = con.execute(spark_sql)
            gc, gr = _norm([d[0] for d in got.description], got.fetchall())
            exp = con.execute(sqls[g])
            ec, er = _norm([d[0] for d in exp.description], exp.fetchall())
            gt, et = _types(con, spark_sql), _types(con, sqls[g])
        except Exception as e:  # an unreadable output or a failing oracle
            bad[g] = f"{type(e).__name__}: {e}"
            continue
        if gc != ec:
            bad[g] = f"columns {gc} != {ec}"
        elif gt != et:
            bad[g] = f"types {gt} != {et}"
        elif len(gr) != len(er):
            bad[g] = f"{len(gr)} rows, oracle has {len(er)}"
        elif gr != er and sorted(map(repr, gr)) != sorted(map(repr, er)):
            bad[g] = f"{sum(a != b for a, b in zip(gr, er))} rows differ from the oracle"
    return bad
