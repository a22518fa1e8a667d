"""Correctness checks of one benchmark run, outside its timed window.

Registry workloads: every published batch (warm-up and timed) is compared
with its job's QuerySpec oracle, run by DuckDB over the same generated
tables. The comparison is the one the engine's own tools/compare.py makes:
same column names, same row count, and an exact multiset match of the rows
(floats compare exactly), with columns taken in name order.

txlog_mixed: the op list that ran is replayed in DuckDB from the base
batch, once per set-up of the run; every read (pruned lookup, snapshot
aggregate, time-travel read, change-feed state) and the final snapshot must
equal the replay.

Each check returns the list of op indices (or names) that failed.
"""
import json
import os
from decimal import Decimal

import duckdb

REGISTRY_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events"]
WIDE_INTS = ("HUGEINT", "UHUGEINT", "UBIGINT")


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def check_registry(res, data, ops):
    """`ops`: records with `name` and `batch` (the batch directory)."""
    con = _con()
    for t in REGISTRY_TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    expected, failed, notes = {}, [], []
    for name, sql in sorted(res["oracles"].items()):
        try:
            rel = con.sql(sql)
            wide = [c for c, t in zip(rel.columns, rel.types)
                    if str(t).upper() in WIDE_INTS]
            if wide:
                raise ValueError(f"oracle emits non-int64 columns {wide}")
            con.execute(f'CREATE TABLE "exp_{name}" AS {sql}')
            cols = sorted(rel.columns)
            n = con.sql(f'SELECT count(*) FROM "exp_{name}"').fetchone()[0]
            expected[name] = (cols, n)
        except Exception as e:  # a broken oracle fails every op of the job
            notes.append(f"{name}: oracle error: {e}")
    for op in ops:
        name = op["name"]
        where = os.path.join(op["batch"], "*.parquet")
        try:
            if name not in expected:
                raise ValueError("no oracle result")
            cols, n = expected[name]
            got = con.sql(f"SELECT * FROM '{where}'")
            if sorted(got.columns) != cols:
                raise ValueError(f"columns {sorted(got.columns)} != {cols}")
            sel = ", ".join(f'"{c}"' for c in cols)
            m = con.sql(f"SELECT count(*) FROM '{where}'").fetchone()[0]
            if m != n:
                raise ValueError(f"rows {m} != {n}")
            diff = con.sql(
                f"SELECT count(*) FROM ((SELECT {sel} FROM '{where}' EXCEPT ALL "
                f'SELECT {sel} FROM "exp_{name}") UNION ALL '
                f'(SELECT {sel} FROM "exp_{name}" EXCEPT ALL '
                f"SELECT {sel} FROM '{where}'))").fetchone()[0]
            if diff:
                raise ValueError(f"{diff} rows differ from the oracle")
        except Exception as e:
            failed.append(op["i"])
            notes.append(f"op {op['i']} {name}: {str(e)[:300]}")
    return failed, notes


def _agg(con):
    return [(g, int(n), Decimal(str(s))) for g, n, s in con.sql(
        "SELECT grp, count(*), sum(CAST(val AS DECIMAL(18,2))) FROM t "
        "GROUP BY grp ORDER BY grp").fetchall()]


def _rows_agg(rows):
    return [(r[0], int(r[1]), Decimal(str(r[2]))) for r in rows]


def check_txlog(res, data, ops):
    """Replay each pass (set-up) of the run from the base batch: `ops` are
    the records the run returned, in order; each pass starts at op 0 on a
    fresh table. Every read and the last pass's final snapshot must equal
    the replay."""
    plan = json.load(open(os.path.join(data, "ops.json")))["ops"]
    base_version = [v for i, v in res["finish"]["versions"] if i < 0]
    failed, notes = [], []

    def fail(i, msg):
        failed.append(i)
        notes.append(f"op {i}: {msg}")

    for p in sorted({rec["pass"] for rec in ops}):
        con = _replay(data, plan, [r for r in ops if r["pass"] == p],
                      base_version, fail)
    final = os.path.join(res["finish"]["final_snapshot"], "*.parquet")
    diff = con.sql(
        f"SELECT count(*) FROM ((SELECT id, grp, val FROM '{final}' EXCEPT ALL "
        f"SELECT id, grp, val FROM t) UNION ALL (SELECT id, grp, val FROM t "
        f"EXCEPT ALL SELECT id, grp, val FROM '{final}'))").fetchone()[0]
    if diff:
        fail("final", f"final snapshot: {diff} rows differ from the replay")
    return failed, notes


def _replay(data, plan, recs, base_version, fail):
    """Replay one pass in DuckDB, comparing each read as it comes; returns
    the connection holding the replayed table `t`."""
    con = _con()
    con.execute(f"CREATE TABLE t AS SELECT id, grp, val FROM "
                f"'{os.path.join(data, 'base.parquet')}'")
    snaps = {-1: _agg(con)}
    # committed version -> the latest op after which it held, so far
    version_op = {v: -1 for v in base_version}
    for rec in recs:
        i = rec["i"]
        op = plan[i]
        kind = op["kind"]
        if kind in ("append", "sql_merge"):
            src = os.path.join(data, op["batch"])
            if kind != "append":
                con.execute(f"DELETE FROM t WHERE id IN "
                            f"(SELECT id FROM '{src}')")
            con.execute(f"INSERT INTO t SELECT id, grp, val FROM '{src}'")
        elif kind == "delete_dv":
            con.execute("DELETE FROM t WHERE list_contains(?, id)",
                        [op["keys"]])
        elif kind == "update_dv":
            con.execute("UPDATE t SET val = val + ? WHERE list_contains(?, id)",
                        [op["delta"], op["keys"]])
        if rec["kind"] == "write":
            snaps[i] = _agg(con)
            version_op[rec["version"]] = i
            continue
        if kind == "lookup":
            exp = con.execute("SELECT id, grp, val FROM t WHERE id = ? "
                              "ORDER BY ALL", [op["key"]]).fetchall()
            got = sorted(tuple(r) for r in rec["rows"])
            if [tuple(r) for r in exp] != got:
                fail(i, f"lookup {op['key']}: {got} != {exp}")
        elif kind == "snapshot_agg":
            if _rows_agg(rec["rows"]) != _agg(con):
                fail(i, "snapshot aggregate differs from the replay")
        elif kind == "time_travel":
            if _rows_agg(rec["rows"]) != snaps.get(rec["after_op"]):
                fail(i, f"time travel to v{rec['version']} differs")
        elif kind == "drain":
            at = version_op.get(rec["version"])
            if at is None or _rows_agg(rec["rows"]) != snaps.get(at):
                fail(i, f"change-feed state at v{rec['version']} differs")
    return con
