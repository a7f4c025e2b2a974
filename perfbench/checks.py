"""Output checks of the benchmark. They run after the measured program has
exited, so no check is inside a timed region or inside set-up.

- kg_build: precision and recall of the built triples against the entities
  the corpus generator planted (the paper's bar, 0.95).
- kg_serve_update: each read against the answer DuckDB computes over the
  exported store in the state its round's update committed: A (batch
  absent) or B (batch present).
- analytics: each query result against its DuckDB oracle SQL.
"""
import glob
import json
import os

PR_BAR = 0.95


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def rows_key(rows):
    """Order-free multiset key of a result: sorted tuples of strings."""
    return tuple(sorted((tuple(norm_value(v) for v in r) for r in rows),
                        key=lambda t: tuple("" if x is None else "\x01" + x for x in t)))


def classify(got, a, b, state):
    """`state` ('A' or 'B') when a read equals the answer in the state the
    last acknowledged update committed; 'stale' when it equals the other
    state's answer instead; else 'wrong' (for instance a half-committed
    state)."""
    if got == (a if state == "A" else b):
        return state
    if got in (a, b):
        return "stale"
    return "wrong"


def build_pr(c):
    """(precision, recall) pairs of the inDoc and mentions checks."""
    def pr(tp, pred, gold):
        return (tp / pred if pred else 0.0, tp / gold if gold else 0.0)
    return {"indoc": pr(c["indoc_tp"], c["indoc_pred"], c["indoc_gold"]),
            "mentions": pr(c["mentions_tp"], c["mentions_pred"], c["mentions_gold"])}


# --- kg_serve_update -------------------------------------------------------

def shape_sql(shape, c):
    """The DuckDB form of each read shape; `t` is the store as a set of
    triples, `tm` the stored rows (the COUNT shape counts rows)."""
    two_hop = (f"SELECT DISTINCT b.subj AS e FROM t a JOIN t b ON a.obj = b.obj "
               f"WHERE a.subj = '{c}' AND a.pred = 'inDoc' AND b.pred = 'inDoc'")
    return {
        "point": f"SELECT DISTINCT obj FROM t WHERE subj = '{c}' AND pred = 'category'",
        "two_hop": two_hop,
        "path": two_hop,
        "optional": (f"SELECT DISTINCT e.e, s.obj FROM ({two_hop}) e "
                     f"LEFT JOIN t s ON s.subj = e.e AND s.pred = 'sameAs'"),
        "group": (f"SELECT b.subj, COUNT(DISTINCT a.obj) FROM t a JOIN t b ON a.obj = b.obj "
                  f"WHERE a.subj = '{c}' AND a.pred = 'inDoc' AND b.pred = 'inDoc' GROUP BY b.subj"),
        "count": f"SELECT COUNT(*) FROM tm WHERE pred = '{c}'",
    }[shape]


def expected_answers(state_a_dir, pool, batch):
    """{qid: (key in state A, key in state B)} computed by DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE TABLE a AS SELECT subj, pred, obj FROM read_parquet('{state_a_dir}/*.parquet')")
    con.execute("CREATE TABLE batch (subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany("INSERT INTO batch VALUES (?, ?, ?)", [tuple(x) for x in batch])
    keys = []
    for rows in ("SELECT * FROM a", "SELECT * FROM a UNION ALL SELECT * FROM batch"):
        con.execute(f"CREATE OR REPLACE VIEW tm AS {rows}")
        con.execute("CREATE OR REPLACE VIEW t AS SELECT DISTINCT * FROM tm")
        keys.append([rows_key(con.execute(shape_sql(q["shape"], q["const"])).fetchall())
                     for q in pool])
    return dict(enumerate(zip(*keys)))


def check_reads(requests, bodies, expected):
    """Per read: 'A', 'B', 'stale', 'wrong' or 'http_<status>'."""
    verdicts = []
    for r in requests:
        if r["status"] != 200:
            verdicts.append(f"http_{r['status']}")
            continue
        got = rows_key(json.loads(bodies[r["body"]])["rows"])
        a, b = expected[r["qid"]]
        verdicts.append(classify(got, a, b, r["state"]))
    return verdicts


def check_update(u, bodies):
    if u["status"] != 200:
        return False
    rep = json.loads(bodies[u["body"]])
    return rep.get("ops") == 1 and rep.get("applied") == 1


# --- analytics ---------------------------------------------------------------

def check_analytics(data_dir, results_dir, oracle_sql):
    """{query: None if the result equals the oracle, else a reason}."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in ("lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        cur = con.execute(sql)
        exp_cols = [d[0] for d in cur.description]
        exp = cur.fetchall()
        files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
        tables = [pq.read_table(f) for f in files]
        got_cols = tables[0].column_names if tables else exp_cols
        got = [tuple(r[c] for c in got_cols) for t in tables for r in t.to_pylist()]
        out[q] = compare(exp_cols, exp, got_cols, got)
    return out


def compare(exp_cols, exp, got_cols, got):
    """None when both results hold the same rows once columns are matched
    by name, else a reason."""
    if sorted(exp_cols) != sorted(got_cols):
        return f"columns differ: {sorted(exp_cols)} vs {sorted(got_cols)}"
    order = sorted(exp_cols)
    ei = [exp_cols.index(c) for c in order]
    gi = [got_cols.index(c) for c in order]
    e = rows_key([[r[i] for i in ei] for r in exp])
    g = rows_key([[r[i] for i in gi] for r in got])
    if len(e) != len(g):
        return f"row count {len(g)}, oracle {len(e)}"
    if e != g:
        return "values differ"
    return None
