"""Output check for one benchmark run, with DuckDB over the same
generated inputs the program read.

* Registry and kernel ops: every invocation's materialized output
  against the op's oracle SQL, compared with tools/check.py's
  type-tagged row canonicalisation.
* lakehouse_cdc: the base rows plus each logged write are replayed in
  DuckDB; every read's digest, every VERSION AS OF digest and the final
  snapshot must equal the replayed state.

`failures(result, work)` returns (failed op indices, messages); DuckDB
spills, if at all, under `work`.
"""
import importlib.util
import os

import duckdb

# the repo's oracle hashing (type-tagged row canonicalisation)
_spec = importlib.util.spec_from_file_location(
    "repo_check", os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools", "check.py"))
_repo_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_repo_check)
canon = _repo_check.canon

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB twin of Lakehouse.digestCols
READ_DIGEST = ("count(*) AS n, coalesce(sum(o_orderkey), 0) AS sk, "
               "coalesce(sum(o_custkey), 0) AS sc, "
               "coalesce(sum(cast(round(o_totalprice * 100) AS bigint)), 0) AS sp, "
               "coalesce(sum(seq), 0) AS sq, "
               "coalesce(sum(ascii(o_orderstatus) + length(o_orderpriority) + "
               "length(o_orderdate)), 0) AS sl")
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "seq"]
JSON_COLS = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', "
             "'o_orderstatus': 'VARCHAR', 'o_totalprice': 'DOUBLE', "
             "'o_orderdate': 'VARCHAR', 'o_orderpriority': 'VARCHAR', "
             "'seq': 'BIGINT', 'op': 'VARCHAR'}")


# Result-preserving rewrites that make the registry's oracle SQL fast
# enough to run after every benchmark run:
# * the exact set-similarity oracles compare every document pair;
#   pairs sharing no shingle have Jaccard 0, below any positive
#   threshold, so only pairs that share one are compared;
# * CTEs read more than once (the LSH pairs inside the recursive
#   closure, the pair sets of the recall audit) are materialized once
#   instead of being re-evaluated per reference and per iteration.
ORACLE_REWRITES = [
    ("FROM sets a JOIN sets b ON a.doc_id < b.doc_id",
     "FROM (SELECT DISTINCT x.doc_id AS cand_a, y.doc_id AS cand_b "
     "FROM (SELECT doc_id, unnest(sset) AS s FROM sets) x "
     "JOIN (SELECT doc_id, unnest(sset) AS s FROM sets) y "
     "ON x.s = y.s AND x.doc_id < y.doc_id) cand "
     "JOIN sets a ON a.doc_id = cand.cand_a JOIN sets b ON b.doc_id = cand.cand_b"),
    ("dup AS (SELECT", "dup AS MATERIALIZED (SELECT"),
    ("lshp AS (", "lshp AS MATERIALIZED ("),
    ("ex AS (", "ex AS MATERIALIZED ("),
]


def fast(sql):
    for old, new in ORACLE_REWRITES:
        sql = sql.replace(old, new)
    return sql


def rows(con, sql):
    rel = con.sql(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def check_oracles(result, con):
    """Every invocation's materialized output against its oracle."""
    data = result["data_dir"]
    for t in TABLES:
        if os.path.isdir(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet(data + '/' + t + '.parquet')}")
    want, failed, msgs = {}, set(), []
    for name, sql in result["oracles"].items():
        try:
            oc, orows = rows(con, fast(sql))
            want[name] = (sorted(oc), canon(oc, orows))
        except Exception as e:  # an oracle that cannot run fails its op
            msgs.append(f"[FAIL] {name}: oracle error {str(e).splitlines()[0]}")
    for i, o in enumerate(result["ops"]):
        if not o["ok"]:
            failed.add(i)
            continue
        if o["name"] not in want:
            failed.add(i)
            continue
        sc, sr = rows(con, f"SELECT * FROM {parquet(o['result'][0])}")
        if (sorted(sc), canon(sc, sr)) != want[o["name"]]:
            failed.add(i)
            msgs.append(f"[FAIL] {o['name']} (pass {o['pass']}): spark {len(sr)} rows, "
                        f"oracle {len(want[o['name']][1])} rows")
    return failed, msgs


def check_lakehouse(result, con):
    f = result["facts"]
    con.execute(f"CREATE TABLE t AS SELECT {', '.join(COLS)} FROM {parquet(f['base'])}")
    snap = {}

    def keep(v):
        con.execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM t")
        snap[v] = f"v{v}"

    def digest(rel, where="TRUE"):
        return [list(r) for r in con.sql(f"SELECT {READ_DIGEST} FROM {rel} WHERE {where}").fetchall()]

    keep(f["base_version"])
    cur = f["base_version"]
    failed, msgs = set(), []
    writer_of = {}
    # the log has one entry per timed op, in the order of result["ops"]
    for i, e in enumerate(f["log"]):
        kind = e["op"]
        if not e["ok"]:
            failed.add(i)
        if kind in ("stream", "merge", "update", "delete"):
            if not e["ok"]:
                continue
            if kind == "stream":
                files = ", ".join(f"'{p}'" for p in e["files"])
                con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM read_json([{files}], "
                            f"format='newline_delimited', columns={JSON_COLS})")
                con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM s)")
                con.execute(f"INSERT INTO t ({', '.join(COLS)}) SELECT {', '.join(COLS)} FROM s")
            elif kind == "merge":
                con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM read_json("
                            f"'{e['dir']}/*.json', format='newline_delimited', columns={JSON_COLS})")
                con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM s)")
                con.execute(f"INSERT INTO t ({', '.join(COLS)}) SELECT {', '.join(COLS)} "
                            "FROM s WHERE op <> 'D'")
            elif kind == "update":
                con.execute("UPDATE t SET o_orderstatus = CASE WHEN o_totalprice > 250000.0 "
                            f"THEN 'F' ELSE 'P' END, seq = {e['seq']} "
                            f"WHERE o_orderkey BETWEEN {e['lo']} AND {e['hi']}")
            else:
                con.execute(f"DELETE FROM t WHERE o_custkey IN ({', '.join(map(str, e['custs']))})")
            cur = e["version_after"]
            writer_of[cur] = i
            keep(cur)
            continue
        if not e["ok"]:
            continue
        if kind == "filter":
            want = digest(snap[e["version"]], f"o_orderkey BETWEEN {e['lo']} AND {e['hi']}")
        elif kind == "keys":
            want = digest(snap[e["version"]], f"o_orderkey IN ({', '.join(map(str, e['keys']))})")
        elif kind == "point":
            want = digest(snap[e["version"]], f"o_orderkey = {e['key']}")
        elif kind == "asof":
            want = digest(snap[e["version"]])
        else:  # changes between two versions, one digest row per change type
            a, b = snap[e["from"]], snap[e["to"]]
            want = []
            for typ, x, y in (("delete", a, b), ("insert", b, a)):
                d = digest(f"(SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})")[0]
                if d[0] > 0:
                    want.append([typ] + d)
        if e["digest"] != want:
            failed.add(i)
            msgs.append(f"[FAIL] {e['name']} (pass read at v{e.get('version', e.get('to'))}): "
                        f"spark {e['digest']} != replay {want}")
    for a in f["as_of"]:
        v = a["version"]
        if v in snap and [a["digest"]] != digest(snap[v]):
            failed.add(writer_of.get(v, -1))
            msgs.append(f"[FAIL] VERSION AS OF {v} differs from the replayed state")
    sc, sr = rows(con, f"SELECT {', '.join(COLS)} FROM {parquet(f['final_snapshot'])}")
    tc, tr = rows(con, f"SELECT {', '.join(COLS)} FROM t")
    if canon(sc, sr) != canon(tc, tr):
        msgs.append(f"[FAIL] final snapshot: spark {len(sr)} rows, replay {len(tr)} rows")
        if writer_of:
            failed.add(max(writer_of.values()))
    failed.discard(-1)
    return failed, msgs


def failures(result, work):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    if result["workload"] == "lakehouse_cdc":
        return check_lakehouse(result, con)
    return check_oracles(result, con)
