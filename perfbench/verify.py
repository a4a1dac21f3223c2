"""Reference answers computed with DuckDB from the generated inputs, with
no graft code involved, and the comparison of every recorded op answer."""
import math
import os

import duckdb

DOC_COLUMNS = ("{'_id': 'STRUCT(\"$oid\" VARCHAR)', 'seq': 'BIGINT', "
               "'ts': 'STRUCT(\"$date\" VARCHAR)', "
               "'user': 'STRUCT(id BIGINT, segment VARCHAR, score DOUBLE)', "
               "'kind': 'VARCHAR', 'qty': 'BIGINT', 'amount': 'DOUBLE', "
               "'tags': 'VARCHAR[]', 'text': 'VARCHAR', 'note': 'BIGINT'}")
FLAT = ('_id."$oid" AS _id, seq, user.id AS user_id, user.segment AS user_segment, '
        'user.score AS user_score, kind, qty, amount, tags, text, note')


def _docs(files):
    return (f"SELECT {FLAT}, filename FROM read_json({files!r}, "
            f"format='newline_delimited', columns={DOC_COLUMNS}, filename=true)")


def _num(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def same_value(g, e):
    if g is None or e is None:
        return g is None and e is None
    if _num(g) and _num(e):
        return g == e or math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-9)
    return str(g) == str(e)


def _key(row):
    return tuple((0, round(v, 6)) if _num(v) else (1, str(v)) for v in row)


def same_rows(got, exp, ordered):
    got, exp = [list(r) for r in got], [list(r) for r in exp]
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    if not ordered:
        got, exp = sorted(got, key=_key), sorted(exp, key=_key)
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e) or not all(same_value(a, b) for a, b in zip(g, e)):
            return f"row {i}: got {g}, expected {e}"
    return None


class Refs:
    """Answers cached per distinct query, so each runs once in DuckDB."""

    def __init__(self, con):
        self.con, self.cache = con, {}

    def __call__(self, sql, *args):
        k = (sql, args)
        if k not in self.cache:
            self.cache[k] = self.con.execute(sql, list(args)).fetchall()
        return self.cache[k]


def check_docscan(con, in_dir, params, records, plant):
    con.execute("CREATE TABLE ev AS " + _docs(f"{in_dir}/events/*.jsonl"))
    q = Refs(con)
    bad = []
    for r in records:
        ty, v, got = r["type"], r["v"], r["rows"]
        ordered = ty in ("topn", "pipeline")
        if ty == "full":
            exp = q("SELECT count(*), sum(qty), sum(amount), sum(length(text)), "
                    "sum(len(tags)), count(note), max(user_id), min(_id), max(_id) FROM ev")
        elif ty == "filter":
            exp = q("SELECT seq, amount, user_id FROM ev WHERE kind = ? AND qty >= ?",
                    params["filter_kinds"][v], params["filter_qty"][v])
        elif ty == "group":
            key = "kind" if v % 2 == 0 else "user_segment"
            exp = q(f"SELECT {key}, count(*), sum(qty), min(amount), max(amount) "
                    f"FROM ev GROUP BY {key}")
        elif ty == "topn":
            by = "amount" if v % 2 == 0 else "user_score"
            exp = q(f"SELECT seq, {by} FROM ev ORDER BY {by} DESC, seq LIMIT 20")
        elif ty == "pipeline":
            exp = q("SELECT kind, count(*), sum(qty) FROM ev WHERE user_segment = ? "
                    "GROUP BY kind ORDER BY kind", params["segments"][v])
        else:
            exp = q("SELECT seq, kind, qty, amount FROM ev WHERE _id = ?",
                    params["lookup_ids"][v])
        if plant and r is records[0]:
            exp = [tuple(x + 1 if _num(x) else x for x in row) for row in exp]
        err = same_rows(got, exp, ordered)
        if err:
            bad.append(f"op {r['id']} {ty}/{v}: {err}")
    return bad


def check_curate(con, in_dir, params, res, records, plant):
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{in_dir}/corpus/documents.parquet')")
    if not records:
        return []
    first = min(records, key=lambda r: r["id"])
    out = first["out"]
    bad = []
    for key, sql in sorted(res["oracle"].items()):
        if key == "p01_clean_pipeline":
            got = con.execute(
                f"SELECT * FROM read_json('{out}/sink/curated/p01/*.jsonl', "
                "format='newline_delimited')").fetchdf()
        else:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out}/{key}/*.parquet')").fetchdf()
        exp = con.execute(sql).fetchdf()
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            bad.append(f"op {first['id']} {key}: columns {list(got.columns)}, "
                       f"expected {list(exp.columns)}")
            continue
        rows = lambda df: [tuple(None if (isinstance(v, float) and math.isnan(v)) else
                                 (v.item() if hasattr(v, "item") else v) for v in t)
                           for t in df.itertuples(index=False)]
        er = rows(exp)
        if plant and key == "p01_clean_pipeline":
            er = er[1:]
        err = same_rows(rows(got), er, ordered=False)
        if err:
            bad.append(f"op {first['id']} {key}: {err}")
    return bad


def check(workload, in_dir, params, res, records, plant, scratch):
    """Return one message per op whose answer differs from the reference."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(scratch, 'duckdb_tmp')}'")
    con.execute("SET threads = 4")
    try:
        if workload == "docscan":
            return check_docscan(con, in_dir, params, records, plant)
        return check_curate(con, in_dir, params, res, records, plant)
    finally:
        con.close()
