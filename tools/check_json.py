#!/usr/bin/env python3
"""The local oracle gate: Verify's parquet output against the DuckDB
oracle SQL on the same testdata tables, in the driver's CORRECTNESS JSON
shape: per key {rows_match, schema_match, hash_match, dtype_match,
spark_rows, oracle_rows, err}. A key passes when its columns, row count,
column dtypes and values all match. Prints one line per failed check
(MISSING, ORA-ERR, SCHEMA, ROWS, DTYPE, VALUE with the first differing
value) or OK per key, then "N/M OK"; exits 1 when any key fails.
Usage: python3 tools/check_json.py <outDir> <sfDir> <outJson> [keys]

Env:
  ORACLE_BUDGET_SEC  per-key oracle budget (0 = unlimited). A key whose
                     oracle exceeds it records oracle_budget_exceeded.
  ORACLE_THREADS     worker parallelism (default 3). Workers share one
                     in-process DuckDB database via cursors; each cursor
                     runs one key at a time, so a per-cursor interrupt
                     cannot hit another key's query.
"""
import sys, json, glob, os, time, threading
from concurrent.futures import ThreadPoolExecutor
import duckdb

outdir, sfdir, outjson = sys.argv[1], sys.argv[2], sys.argv[3]
only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
nthreads = int(os.environ.get("ORACLE_THREADS", "3") or 3)
budget = float(os.environ.get("ORACLE_BUDGET_SEC", "0") or 0)

root = duckdb.connect()
root.execute(f"SET threads={max(2, 16 // nthreads)}")
# Cap the database well under host RAM and give it a spill directory:
# at synthesized sf1 the materialized signature chains are tens of GB
# and N parallel keys multiply that — the uncapped default OOM'd the
# whole process (round 14). DuckDB spills capped operators to disk.
os.makedirs("/tmp/duckdb_spill", exist_ok=True)
root.execute("SET temp_directory='/tmp/duckdb_spill'")
root.execute(
    f"SET memory_limit='{os.environ.get('ORACLE_MEM', '20GB')}'")
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = f"{sfdir}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    root.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if only is not None:
    oracle = {k: v for k, v in oracle.items() if k in only}

result = {}
lock = threading.Lock()
done = [0]


def passed(ent):
    return (ent["rows_match"] and ent["schema_match"] and ent["hash_match"]
            and ent["dtype_match"] and not ent["err"])


def compare(name, got, exp, ent, lines):
    """Driver semantics: sort columns by name, then rows, then compare
    each column's dtype and its values as strings."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    ent["schema_match"] = list(got.columns) == list(exp.columns)
    ent["rows_match"] = len(got) == len(exp)
    if not ent["schema_match"]:
        lines.append(f"SCHEMA   {name}: got {list(got.columns)} "
                     f"exp {list(exp.columns)}")
        return
    if not ent["rows_match"]:
        lines.append(f"ROWS     {name}: got {len(got)} exp {len(exp)}")
        return
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    ent["hash_match"] = ent["dtype_match"] = True
    for c in got.columns:
        gv, ev = gs[c], es[c]
        if str(gv.dtype) != str(ev.dtype):
            lines.append(f"DTYPE    {name}.{c}: got {gv.dtype} exp {ev.dtype}")
            ent["dtype_match"] = False
        try:
            bad = gv.astype(str) != ev.astype(str)
        except Exception as e:
            lines.append(f"VALUE    {name}.{c}: not comparable: {e}")
            ent["hash_match"] = False
            continue
        if bad.any():
            i = bad[bad].index[0]
            lines.append(f"VALUE    {name}.{c}: first diff row {i}: "
                         f"got={gv[i]!r} exp={ev[i]!r}")
            ent["hash_match"] = False


def run_key(name):
    sql = oracle[name]
    t0 = time.time()
    ent = {"rows_match": False, "schema_match": False, "hash_match": False,
           "dtype_match": False, "spark_rows": None, "oracle_rows": None,
           "err": None}
    lines = []
    # one cursor per key: budget interrupts land on THIS cursor only,
    # and a late-firing timer is swallowed below before the cursor is
    # ever reused (ADVICE r13: the old single-connection interrupt
    # could hit the NEXT key's first execute)
    con = root.cursor()
    timer = None
    try:
        pdir = f"{outdir}/{name}"
        if not os.path.isdir(pdir):
            ent["err"] = "no parquet dir"
            lines.append(f"MISSING  {name} (no parquet dir)")
            return name, ent, lines, time.time() - t0
        files = glob.glob(f"{pdir}/*.parquet")
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if budget > 0:
            timer = threading.Timer(budget, con.interrupt)
            timer.start()
        exp = con.execute(sql).fetchdf()
        ent["spark_rows"] = len(got)
        ent["oracle_rows"] = len(exp)
        compare(name, got, exp, ent, lines)
    except Exception as e:
        msg = str(e)[:300]
        if "INTERRUPT" in msg.upper():
            msg = f"oracle_budget_exceeded({int(budget)}s)"
        ent["err"] = msg
        lines.append(f"ORA-ERR  {name}: {msg}")
    finally:
        if timer is not None:
            timer.cancel()
            # swallow a timer that fired after the query finished but
            # before cancel(): the pending interrupt would otherwise
            # land on this cursor's next execute
            try:
                con.execute("SELECT 1").fetchall()
            except Exception:
                pass
        con.close()
    if passed(ent):
        lines.append(f"OK       {name} ({ent['spark_rows']} rows)")
    return name, ent, lines, time.time() - t0


# FAMILY-INTERLEAVED schedule (round 15): plain sorted order runs the
# whole dedup family concurrently — N sig-chain keys sharing the
# memory cap at once took the 4-cursor sf1 run down with std::bad_alloc
# (DuckDB's cap tracks buffer-managed memory; lambda/list scratch is
# untracked and multiplies per concurrent heavy key). Round-robin across
# alpha families keeps at most one heavy-family key in flight per
# cursor slot at a time.
import re as _re
fams = {}
for n in sorted(oracle):
    fams.setdefault(_re.match(r"[a-z]+", n).group(0), []).append(n)
names = []
qs = [fams[f] for f in sorted(fams)]
while any(qs):
    for q in qs:
        if q:
            names.append(q.pop(0))
with ThreadPoolExecutor(max_workers=nthreads) as ex:
    for name, ent, lines, dt in ex.map(run_key, names):
        with lock:
            result[name] = ent
            done[0] += 1
            for ln in lines:
                print(ln, flush=True)
            print(f"         {name} {dt:.1f}s [{done[0]}/{len(names)}]",
                  flush=True)
            json.dump({k: result[k] for k in sorted(result)},
                      open(outjson, "w"), indent=2)

result = {k: result[k] for k in sorted(result)}
n_ok = sum(1 for e in result.values() if passed(e))
json.dump(result, open(outjson, "w"), indent=2)
print(f"\n{n_ok}/{len(result)} OK -> {outjson}")
sys.exit(0 if n_ok == len(result) else 1)
