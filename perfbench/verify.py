"""Output verification: nothing is measured until every output checks.

- Pipeline activities: each published result is compared with the
  activity's DuckDB oracle (`SparkEntry.oracleSql`) under the rules of the
  repository's `tools/compare.py` (column names, dtypes, row count and
  every value).
- Lakehouse: a DuckDB replay of the same generated CDC script, checked at
  every version a read op touched and at the final version.
- Every later pass must reproduce the first pass exactly.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import compare  # noqa: E402  the repository's oracle comparator


def read_output(path):
    """A published parquet dataset as pandas, part files in write order."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        raise FileNotFoundError(f"no part files under {path}")
    return pa.concat_tables([pq.read_table(f) for f in parts]).to_pandas()


def duck(data_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in compare.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_activities(res, data_dir, threads):
    """Errors (empty when every output verified) for a pipeline-shaped run."""
    errors = []
    con = duck(data_dir, threads)
    passes = res["passes"]
    first = {o["name"]: o for o in passes[0]["ops"] if o["kind"] == "activity"}
    for name, op in sorted(first.items()):
        if op["error"]:
            errors.append(f"{name}: failed: {op['error']}")
            continue
        try:
            out = read_output(op["path"])
        except Exception as e:  # an unreadable output is a mismatch
            errors.append(f"{name}: output unreadable: {e}")
            continue
        err = compare.check(name, out, con.execute(res["oracle_sql"][name]).df())
        if err:
            errors.append(f"{name}: {err}")
        for p in passes[1:]:
            other = next((o for o in p["ops"] if o["name"] == name), None)
            if other is None or other["error"]:
                errors.append(f"{name}: pass {p['id']} failed")
            elif not read_output(other["path"]).equals(out):
                errors.append(f"{name}: pass {p['id']} differs from pass 1")
    return errors


# ---- lakehouse replay --------------------------------------------------------

def _checksum(con, rel, sums):
    cur = con.execute(f"SELECT {', '.join(sums)} FROM {rel}")
    names = [d[0] for d in cur.description]
    return dict(zip(names, [None if v is None else int(v) for v in cur.fetchone()]))


def _same(a, b):
    norm = lambda d: {k: None if v is None else int(v) for k, v in d.items()}
    return norm(a) == norm(b)


def replay(script, cdc_dir, versions, threads=2):
    """Replay the CDC script in DuckDB. `versions` maps each write op's
    index to the table version the harness reported for it, so the replay
    keys its states by the same versions. Returns (con, changed_rows): the
    connection holds the final table `t`, a table `v<version>` per committed
    version, and `chg`, the change rows (with `_change_type`) per version."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    sums = script["checksum_sql"]
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    con.execute(f"CREATE TABLE chg AS SELECT {cols}, '' AS _change_type, 0::BIGINT AS v "
                f"FROM read_parquet('{cdc_dir}/base.parquet') LIMIT 0")
    changed = 0
    for i, op in enumerate(script["ops"]):
        kind = op["op"]
        v = versions.get(i)
        f = f"read_parquet('{cdc_dir}/{op['path']}')" if "path" in op else None
        if kind == "seed":
            con.execute(f"CREATE TABLE t AS SELECT {cols} FROM {f}")
            con.execute(f"INSERT INTO chg SELECT {cols}, 'insert', {v} FROM t")
        elif kind in ("merge_small", "merge_large"):
            con.execute(f"CREATE TEMP TABLE b AS SELECT {cols} FROM {f}")
            con.execute(f"INSERT INTO chg SELECT {cols}, 'update_preimage', {v} FROM t "
                        "WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
            con.execute(f"INSERT INTO chg SELECT {cols}, 'update_postimage', {v} FROM b "
                        "WHERE o_orderkey IN (SELECT o_orderkey FROM t)")
            con.execute(f"INSERT INTO chg SELECT {cols}, 'insert', {v} FROM b "
                        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
            changed += con.execute("SELECT count(*) FROM b").fetchone()[0]
            con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
            con.execute("INSERT INTO t SELECT * FROM b")
            con.execute("DROP TABLE b")
        elif kind == "merge_delete":
            where = f"o_orderkey IN (SELECT o_orderkey FROM {f})"
            changed += _delete(con, cols, where, v)
        elif kind == "delete_where":
            changed += _delete(con, cols, f"coalesce({op['predicate']}, false)", v)
        elif kind == "update_where":
            where = f"coalesce({op['predicate']}, false)"
            con.execute(f"INSERT INTO chg SELECT {cols}, 'update_preimage', {v} FROM t WHERE {where}")
            sets = ", ".join(f"{k} = {e}" for k, e in op["set"].items())
            n = con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]
            con.execute(f"UPDATE t SET {sets} WHERE {where}")
            # the post-images are the updated rows, found again by key
            con.execute(f"INSERT INTO chg SELECT {cols}, 'update_postimage', {v} FROM t "
                        f"WHERE o_orderkey IN (SELECT o_orderkey FROM chg WHERE v = {v} "
                        "AND _change_type = 'update_preimage')")
            changed += n
        if v is not None and not con.execute(
                f"SELECT 1 FROM duckdb_tables() WHERE table_name = 'v{v}'").fetchone():
            con.execute(f"CREATE TABLE v{v} AS SELECT * FROM t")
    return con, changed


def _delete(con, cols, where, v):
    con.execute(f"INSERT INTO chg SELECT {cols}, 'delete', {v} FROM t WHERE {where}")
    n = con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]
    con.execute(f"DELETE FROM t WHERE {where}")
    return n


def check_lakehouse(res, cdc_dir, threads):
    """Errors for a lakehouse run, and the rows one pass changed."""
    with open(os.path.join(cdc_dir, "ops.json")) as f:
        script = json.load(f)
    sums = script["checksum_sql"]
    passes = res["passes"]
    p1 = passes[0]["ops"]
    errors = [f"{o['name']}#{o['index']}: failed: {o['error']}" for o in p1 if o["error"]]
    if errors:
        return errors, 0
    con, changed = replay(script, cdc_dir,
                          {o["index"]: o["version"] for o in p1 if o["kind"] == "write"}, threads)

    def state(v):
        if not con.execute(f"SELECT 1 FROM duckdb_tables() WHERE table_name = 'v{v}'").fetchone():
            raise KeyError(f"no replayed state for version {v}")
        return f"v{v}"

    def rows(sql):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    def canon(recs):
        return sorted(json.dumps({k: v if v is None or isinstance(v, str) else int(v)
                                  for k, v in r.items()}, sort_keys=True) for r in recs)

    def expected(o):
        """(what the replay says the op returned, what the op returned)."""
        kind, v, op = o["name"].split(".", 1)[1], o.get("version"), script["ops"][o["index"]]
        if kind == "read_asof":
            return _checksum(con, state(v), sums), o["checksum"]
        if kind == "read_range":
            return _checksum(con, f"(SELECT * FROM {state(v)} WHERE o_orderkey BETWEEN "
                                  f"{op['lo']} AND {op['hi']})", sums), o["checksum"]
        if kind == "row_count":
            return con.execute(f"SELECT count(*) FROM {state(v)}").fetchone()[0], o["rows"]
        if kind == "changes":
            want = rows(f"SELECT _change_type, {', '.join(sums)} FROM chg "
                        f"WHERE v > {o['from']} AND v <= {v} GROUP BY 1")
            got = [dict(c, _change_type=t) for t, c in o["checksum"].items()]
            return canon(want), canon(got)
        if kind == "mv_refresh":
            agg = ", ".join(f"{'count(*)' if e == '*' else f'{fn}({e})'} AS {out}"
                            for fn, e, out in script["mv_aggs"])
            keys = ", ".join(script["mv_keys"])
            return (canon(rows(f"SELECT {keys}, {agg} FROM {state(v)} GROUP BY {keys}")),
                    canon(o["mv_rows"]))
        return None, None

    for o in p1:
        try:
            want, got = expected(o)
        except KeyError as e:
            want, got = str(e), None
        if isinstance(want, dict) and _same(want, got):
            continue
        if want != got:
            errors.append(f"{o['name'].split('.', 1)[1]}#{o['index']}: {got} != replay {want}")
    final = _checksum(con, "t", sums)
    if not _same(final, passes[0]["final_checksum"]):
        errors.append(f"final: {passes[0]['final_checksum']} != replay {final}")
    keys = ("name", "version", "checksum", "rows", "mv_rows", "error")
    base = [{k: o.get(k) for k in keys} for o in p1]
    for p in passes[1:]:
        if [{k: o.get(k) for k in keys} for o in p["ops"]] != base:
            errors.append(f"pass {p['id']} differs from pass 1")
    return errors, changed
