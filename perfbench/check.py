"""Output checker, independent of the engine's operators.

Expected outputs are recomputed with DuckDB SQL (and, for near-duplicate
clusters, a plain union-find) over the generated inputs and the generator's
ledger; nothing here calls the engine. Checks, all made after the timed
loop:

* star workloads: each run read exactly the rows past the previous
  committed key (late rows, at or below it, are dropped per Glue bookmark
  semantics), committed their maximum key, and its two reports equal a
  recompute over those rows;
* ``trickle`` and ``rds_redshift``: the consumer's view of the appended
  partial reports (their sum per report key) equals a full recompute over
  every row that should have been delivered once;
* ``rds_redshift``: the warehouse holds each normal run's reports exactly
  once, a redelivered run loaded 0 parts, and the load ledger holds each
  run id once;
* ``near_dup``: every pair's Jaccard is recomputed from the hashed
  character shingles and clears the threshold, the clusters equal the
  connected components of the pair set, and each cluster keeps its best
  member.

Returns ``{"ok", "problems", "wrong_rows", "checked_rows", "runs"}``, where
``runs[i]`` holds ``ok`` plus the run's delivered ``rows`` and its sink
``parts`` or ``pairs``.
"""
import glob
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb

SHINGLE = 3
POLY_P = 2147483647  # the engine's PolyHash modulus
JACCARD_MIN = 0.5

SUPPLIER_REPORT = """
    SELECT f.l_suppkey AS s_suppkey, s.s_name, f.l_shipdate AS register_date,
           round(sum(f.l_extendedprice), 2) AS total
    FROM delta f JOIN supplier s ON f.l_suppkey = s.s_suppkey
                 JOIN part p ON f.l_partkey = p.p_partkey
    GROUP BY ALL"""
PART_BRAND_REPORT = """
    SELECT p.p_brand, f.l_shipdate AS register_date, round(sum(f.l_extendedprice), 2) AS total
    FROM delta f JOIN supplier s ON f.l_suppkey = s.s_suppkey
                 JOIN part p ON f.l_partkey = p.p_partkey
    GROUP BY ALL"""
REPORT_SQL = {"supplier_report": SUPPLIER_REPORT, "part_brand_report": PART_BRAND_REPORT}
REPORT_KEYS = {"supplier_report": "s_suppkey, s_name, register_date",
               "part_brand_report": "p_brand, register_date"}
FACT_COLUMNS = ("l_orderkey BIGINT, l_linenumber INTEGER, l_partkey BIGINT, "
                "l_suppkey BIGINT, l_extendedprice DOUBLE, l_shipdate DATE")


class Verdicts:
    def __init__(self):
        self.problems = []
        self.wrong = 0
        self.checked = 0
        self.runs = {}

    def run(self, i):
        return self.runs.setdefault(i, {"ok": True, "rows": 0})

    def fail(self, i, msg, wrong=0):
        self.problems.append(f"run {i}: {msg}" if i is not None else msg)
        self.wrong += wrong
        if i is not None:
            self.run(i)["ok"] = False

    def result(self):
        return {"ok": not self.problems, "problems": self.problems,
                "wrong_rows": self.wrong, "checked_rows": self.checked, "runs": self.runs}


def sql_list(paths):
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def multiset_diff(con, expected, actual):
    """Rows in one multiset and not the other, counted with multiplicity."""
    missing = con.execute(f"SELECT count(*) FROM ({expected} EXCEPT ALL {actual})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({actual} EXCEPT ALL {expected})").fetchone()[0]
    return missing + extra


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def load_dims(con, work, workload):
    if workload == "rds_redshift":
        src = f"{work}/source"
        con.execute(f"""CREATE TABLE supplier AS SELECT * FROM read_csv('{src}/supplier.csv',
            header=false, columns={{'s_suppkey':'BIGINT','s_name':'VARCHAR','s_nationkey':'INTEGER'}})""")
        con.execute(f"""CREATE TABLE part AS SELECT * FROM read_csv('{src}/part.csv',
            header=false, columns={{'p_partkey':'BIGINT','p_brand':'VARCHAR','p_type':'VARCHAR',
            'p_size':'INTEGER'}})""")
    else:
        for t in ("supplier", "part"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{work}/table/{t}.parquet/*.parquet')")


def load_fact(con, work, workload, ledger):
    """Every generated fact row with its batch (-1: history) and a `late`
    flag: a row below its batch's first new key, which Glue drops."""
    files = [(e["file"], -1, e["min_key"]) for e in ledger["history"]]
    for b, e in enumerate(ledger.get("batches", [])):
        path = e["file"]
        if not os.path.exists(path):  # trickle moved it into the table
            path = f"{work}/table/lineitem.parquet/{os.path.basename(path)}"
        files.append((path, b, e["min_key"]))
    con.execute("CREATE TABLE files (path VARCHAR, batch INTEGER, min_key BIGINT)")
    con.executemany("INSERT INTO files VALUES (?, ?, ?)", files)
    paths = sql_list([f[0] for f in files])
    if workload == "rds_redshift":
        cols = "{" + ", ".join(f"'{c.split()[0]}': '{c.split()[1]}'"
                               for c in FACT_COLUMNS.split(", ")) + "}"
        src = f"read_csv({paths}, header=false, columns={cols}, filename=true)"
    else:
        src = f"read_parquet({paths}, filename=true)"
    con.execute(f"""CREATE TABLE fact AS
        SELECT r.* EXCLUDE (filename), f.batch, r.l_orderkey < f.min_key AS late
        FROM {src} r JOIN files f ON r.filename = f.path""")


def set_delta(con, max_batch, after_key):
    """`delta` := the rows present when a run starts (batches up to
    `max_batch`) whose key is past the bookmark `after_key`."""
    con.execute("DROP TABLE IF EXISTS delta")
    cond = "" if after_key is None else f"AND l_orderkey > {int(after_key)}"
    con.execute(f"CREATE TEMP TABLE delta AS SELECT * FROM fact WHERE batch <= {max_batch} {cond}")
    n, mx = con.execute("SELECT count(*), max(l_orderkey) FROM delta").fetchone()
    return n, mx


def check_reports_parquet(con, v, work, i):
    for name, sql in REPORT_SQL.items():
        files = glob.glob(f"{work}/out/{name}/run={i}/*.parquet")
        v.run(i)["parts"] = v.run(i).get("parts", 0) + len(files)
        expected = f"SELECT {REPORT_KEYS[name]}, total FROM ({sql})"
        v.checked += con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
        if not files:
            actual = f"SELECT {REPORT_KEYS[name]}, total FROM ({sql}) WHERE false"
        else:
            actual = (f"SELECT {REPORT_KEYS[name]}, total "
                      f"FROM read_parquet({sql_list(files)})")
        wrong = multiset_diff(con, expected, actual)
        if wrong:
            v.fail(i, f"{name} differs from the recompute in {wrong} rows", wrong)


def check_delivery(v, rec, n, mx):
    i = rec["run"]
    v.run(i)["rows"] = n
    if "rows_read" in rec and rec["rows_read"] != n:
        v.fail(i, f"read {rec['rows_read']} rows, expected {n}",
               abs(rec["rows_read"] - n))
    if rec.get("committed") != mx:
        v.fail(i, f"committed bookmark {rec.get('committed')}, expected {mx}")


def check_consumer_view(con, v, actual_by_report, last_batch):
    """Sum of every delivered partial report == one full recompute."""
    set_delta(con, last_batch, None)
    con.execute("DELETE FROM delta WHERE late")
    for name, sql in REPORT_SQL.items():
        keys = REPORT_KEYS[name]
        full = f"SELECT {keys}, total FROM ({sql})"
        view = f"SELECT {keys}, round(sum(total), 2) AS total FROM ({actual_by_report[name]}) GROUP BY ALL"
        wrong = multiset_diff(con, full, view)
        v.checked += con.execute(f"SELECT count(*) FROM ({full})").fetchone()[0]
        if wrong:
            v.fail(None, f"consumer view of {name} differs from a full recompute in {wrong} rows",
                   wrong)


def check_star_parquet(workload, work, ledger, runs):
    v = Verdicts()
    con = connect()
    load_dims(con, work, workload)
    load_fact(con, work, workload, ledger)
    bookmark, last_batch = None, -1
    for rec in runs:
        i = rec["run"]
        if workload == "trickle":
            last_batch = max(last_batch, rec["batch"])
            after = bookmark
        else:
            after = None if rec["midpoint"] < 0 else rec["midpoint"]
        if rec.get("error"):
            v.fail(i, f"run threw {rec['error']}")
            continue
        n, mx = set_delta(con, last_batch, after)
        check_delivery(v, rec, n, mx)
        check_reports_parquet(con, v, work, i)
        if n:
            bookmark = mx
    if workload == "trickle" and runs:
        actual = {name: f"SELECT * FROM read_parquet('{work}/out/{name}/*/*.parquet')"
                  for name in REPORT_SQL}
        check_consumer_view(con, v, actual, last_batch)
    return v.result()


def read_dump(path):
    with open(path) as f:
        return [line.rstrip("\n").split("|") for line in f if line.strip()]


def check_rds(work, ledger, runs):
    v = Verdicts()
    con = connect()
    load_dims(con, work, "rds_redshift")
    load_fact(con, work, "rds_redshift", ledger)
    wh = f"{work}/warehouse"
    con.execute(f"""CREATE TABLE wh_supplier_report AS SELECT * FROM read_csv('{wh}/supplier_report.csv',
        delim='|', header=false, columns={{'s_suppkey':'BIGINT','s_name':'VARCHAR',
        'register_date':'DATE','total':'DOUBLE'}})""")
    con.execute(f"""CREATE TABLE wh_part_brand_report AS SELECT * FROM read_csv('{wh}/part_brand_report.csv',
        delim='|', header=false, columns={{'p_brand':'VARCHAR','register_date':'DATE','total':'DOUBLE'}})""")
    con.execute("CREATE TABLE exp_supplier_report AS SELECT * FROM wh_supplier_report WHERE false")
    con.execute("CREATE TABLE exp_part_brand_report AS SELECT * FROM wh_part_brand_report WHERE false")
    bookmark, previous, last_batch, run_ids = None, None, -1, []
    for rec in runs:
        i = rec["run"]
        if rec["redelivery"]:
            bookmark = previous  # the benchmark reset it to the last window
        last_batch = max(last_batch, rec["batch"])
        if rec.get("error"):
            v.fail(i, f"run threw {rec['error']}")
            continue
        n, mx = set_delta(con, last_batch, bookmark)
        check_delivery(v, rec, n, mx)
        parts = rec.get("parts", [])
        v.run(i)["parts"] = sum(p for p in parts if p > 0)
        if rec["redelivery"]:
            if any(p != 0 for p in parts):
                v.fail(i, f"redelivered run loaded parts {parts}, expected none")
        else:
            run_ids.append(rec["run_id"])
            for name in REPORT_SQL:
                con.execute(f"INSERT INTO exp_{name} SELECT {REPORT_KEYS[name]}, total "
                            f"FROM ({REPORT_SQL[name]})")
        previous = bookmark
        if n:
            bookmark = mx
    for name in REPORT_SQL:
        expected = f"SELECT * FROM exp_{name}"
        v.checked += con.execute(f"SELECT count(*) FROM exp_{name}").fetchone()[0]
        wrong = multiset_diff(con, expected, f"SELECT {REPORT_KEYS[name]}, total FROM wh_{name}")
        if wrong:
            v.fail(None, f"warehouse {name} differs from the runs' reports in {wrong} rows", wrong)
        ledger_ids = [r[0] for r in read_dump(f"{wh}/{name}_ledger.csv")]
        if sorted(ledger_ids) != sorted(set(run_ids)):
            v.fail(None, f"{name} load ledger holds {len(ledger_ids)} run ids, "
                         f"expected {len(set(run_ids))}")
    check_consumer_view(con, v, {name: f"SELECT * FROM wh_{name}" for name in REPORT_SQL},
                        last_batch)
    return v.result()


def shingles(text):
    """The engine's hashed character shingles, recomputed: each 3-character
    window folded as h = (h * 31 + c) mod P."""
    out = set()
    for i in range(len(text) - SHINGLE + 1):
        h = 0
        for c in text[i:i + SHINGLE]:
            h = (h * 31 + ord(c)) % POLY_P
        out.add(h)
    return out


def round_half_up(x, places=6):
    """Spark's `round` on a double: the shortest decimal form of `x`,
    rounded half up (Python's own `round` rounds half to even)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def components(pairs):
    """Connected components as {doc: min doc id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_near_dup(work, ledger, runs):
    v = Verdicts()
    con = connect()
    for rec in runs:
        i = rec["run"]
        if rec.get("error"):
            v.fail(i, f"run threw {rec['error']}")
            continue
        batch = ledger["batches"][rec["batch"]]
        docs = {d: (t, n) for d, t, n in con.execute(
            f"SELECT doc_id, text, n_chars FROM read_parquet('{batch['dir']}/documents.parquet/*.parquet')"
        ).fetchall()}
        v.run(i)["rows"] = len(docs)

        def out(stage, cols):
            files = glob.glob(f"{work}/out/{stage}/run={i}/*.parquet")
            if not files:
                return []
            return con.execute(f"SELECT {cols} FROM read_parquet({sql_list(files)})").fetchall()

        pairs = out("pairs", "id_a, id_b, jaccard")
        v.run(i)["pairs"] = len(pairs)
        v.checked += len(pairs)
        sh = {}
        bad = 0
        for a, b, j in pairs:
            if a >= b or a not in docs or b not in docs:
                bad += 1
                continue
            sa = sh.setdefault(a, shingles(docs[a][0]))
            sb = sh.setdefault(b, shingles(docs[b][0]))
            exact = round_half_up(len(sa & sb) / len(sa | sb))
            if abs(exact - j) > 1e-9 or exact < JACCARD_MIN:
                bad += 1
        bad += len(pairs) - len({(a, b) for a, b, _ in pairs})
        if bad:
            v.fail(i, f"{bad} pairs are duplicated, misordered or fail the Jaccard recompute", bad)

        comp = components((a, b) for a, b, _ in pairs)
        got = out("clusters", "doc_id, cluster_id")
        v.checked += len(comp)
        got_map = dict(got)
        wrong = abs(len(got) - len(got_map))  # duplicated doc rows
        wrong += sum(1 for d, c in comp.items() if got_map.get(d) != c)
        wrong += sum(1 for d in got_map if d not in comp)
        if wrong:
            v.fail(i, f"clusters differ from the pair set's connected components in {wrong} rows",
                   wrong)

        members = {}
        for d, c in comp.items():
            members.setdefault(c, []).append(d)
        expected = set()
        for c, ds in members.items():
            best = min(ds, key=lambda d: (-docs[d][1], d))
            expected.add((c, best, docs[best][1], len(ds)))
        kept = out("keep", "cluster_id, keep_id, keep_quality, n_docs")
        v.checked += len(expected)
        wrong = len(expected.symmetric_difference(kept)) + len(kept) - len(set(kept))
        if wrong:
            v.fail(i, f"kept members differ from the best of each cluster in {wrong} rows", wrong)
    return v.result()


def check(workload, work, ledger, records):
    runs = sorted((r for r in records if r["kind"] == "run"), key=lambda r: r["run"])
    if workload == "rds_redshift":
        return check_rds(work, ledger, runs)
    if workload == "near_dup":
        return check_near_dup(work, ledger, runs)
    return check_star_parquet(workload, work, ledger, runs)
