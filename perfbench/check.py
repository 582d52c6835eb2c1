"""Output checks against a reference computed on the same generated inputs.

DuckDB for the relational, profile and stream outputs and for the row
count of every server request; plain Python for the dedup components;
NumPy for pagerank and for the exact kNN the PQ/IVF answer is held to
with a recall floor. Rows are compared in a fixed order, doubles to a
relative 1e-9. Each check returns (attempted, failed, notes).
"""
import hashlib
import json
import math
import os

import duckdb
import numpy as np

# recall@k of the PQ/IVF answer is about 0.6 on these inputs
KNN_RECALL_FLOOR = 0.45
REL_TOL = 1e-9


def _con(tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _rows(con, sql):
    return con.execute(sql).fetchall()


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def _same(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


# ---- batch ---------------------------------------------------------------

def _batch_reference(plan):
    d, p = plan["input"], plan["params"]
    con = _con({t: f"{d}/{t}.parquet" for t in
                ("lineitem", "orders", "customer", "documents", "embeddings")})
    ref = {}
    ref["relational"] = _rows(con, f"""
        WITH lis AS (
          SELECT l_orderkey, l_quantity, l_extendedprice * (1 - l_discount) AS revenue
          FROM lineitem
          WHERE l_shipdate < TIMESTAMPTZ '{p["SHIPCUT"]} 00:00:00+00'
            AND l_discount <= {p["DISCMAX"]}),
        j AS (
          SELECT c.c_mktsegment, c.c_nationkey, o.o_orderpriority, l.revenue, l.l_quantity
          FROM lis l JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderstatus <> '{p["STATUSOUT"]}')
        SELECT c_mktsegment, c_nationkey, o_orderpriority, count(*), sum(revenue),
               sum(l_quantity)
        FROM j GROUP BY ALL
        ORDER BY 5 DESC, 1, 2, 3""")

    # chunk -> identical-chunk links -> transitive components
    size = int(p["CHUNK"])
    docs = _rows(con, "SELECT doc_id, text, n_chars, lang FROM documents ORDER BY doc_id")
    owner = {}
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    links = set()
    for doc_id, text, _, _ in docs:
        toks = text.strip().split()
        n = len(toks)
        chunks = 1 if n <= size else math.ceil((n - size) / size) + 1
        for i in range(chunks):
            key = hashlib.md5(" ".join(toks[i * size:i * size + size]).encode()).digest()
            owner[key] = min(owner.get(key, doc_id), doc_id)
    for doc_id, text, _, _ in docs:
        toks = text.strip().split()
        n = len(toks)
        chunks = 1 if n <= size else math.ceil((n - size) / size) + 1
        for i in range(chunks):
            key = hashlib.md5(" ".join(toks[i * size:i * size + size]).encode()).digest()
            if owner[key] < doc_id:
                links.add((doc_id, owner[key]))
    for a, b in links:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    linked = {a for a, _ in links}
    dup_of = {doc: (find(doc) if doc in linked else None) for doc, _, _, _ in docs}
    ref["dedup"] = sorted((k, v) for k, v in dup_of.items())

    vals = [v for v in dup_of.values() if v is not None]
    nch = [r[2] for r in docs]
    ref["profile"] = {
        "n_chars": (len(nch), 0, len(set(nch)), float(np.mean(nch)), float(np.std(nch, ddof=1))),
        "__dup_of": (len(docs), len(docs) - len(vals), len(set(vals)), float(np.mean(vals)),
                     float(np.std(vals, ddof=1))),
        "lang": (len(docs), 0, len({r[3] for r in docs}), None, None),
    }

    emb = _rows(con, "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
    ids = np.array([r[0] for r in emb])
    x = np.array([r[1] for r in emb], dtype=np.float64)
    q = x[ids <= int(p["NQUERY"])]
    qids = ids[ids <= int(p["NQUERY"])]
    dist = ((q * q).sum(1)[:, None] - 2 * q @ x.T + (x * x).sum(1)[None, :])
    # a query is not its own neighbour
    dist[np.arange(len(qids)), np.searchsorted(ids, qids)] = np.inf
    k = int(p["KNN"])
    top = np.argsort(dist, axis=1, kind="stable")[:, :k]
    ref["knn"] = {int(qi): set(ids[t].tolist()) for qi, t in zip(qids, top)}

    edges = np.array(_rows(con, f"""
        SELECT o_custkey, ((o_orderkey * 31 + o_custkey * 7) % {p["NCUST"]}) + 1
        FROM orders WHERE o_orderpriority <> '5-LOW'"""), dtype=np.int64)
    verts = np.unique(edges.ravel())
    idx = {v: i for i, v in enumerate(verts)}
    s = np.array([idx[v] for v in edges[:, 0]])
    t = np.array([idx[v] for v in edges[:, 1]])
    n = len(verts)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    for _ in range(int(p["PRITER"])):
        contrib = np.bincount(t, weights=pr[s] / deg[s], minlength=n)
        pr = (1.0 - 0.85) / n + 0.85 * contrib
    ref["graph"] = dict(zip(verts.tolist(), pr.tolist()))
    con.close()
    return ref


def _check_batch_run(out, ref):
    bad = []
    con = duckdb.connect()

    def read(leg, sql):
        return con.execute(sql.format(T=f"read_parquet('{out}/{leg}/*.parquet')")).fetchall()

    rel = read("relational", "SELECT * FROM {T}")
    if not _same(rel, ref["relational"]):
        bad.append("relational output differs from the reference")
    dd = read("dedup", "SELECT doc_id, __dup_of FROM {T} ORDER BY doc_id")
    if dd != ref["dedup"]:
        bad.append("dedup components differ from the reference")
    prof = {r[0]: r[1:] for r in read("profile", "SELECT \"column\", n, nulls, distincts, mean, std FROM {T}")}
    if set(prof) != set(ref["profile"]) or not all(
            _same([prof[c]], [ref["profile"][c]]) for c in prof):
        bad.append("profile differs from the reference")
    knn = read("knn", "SELECT query_id, list(neighbor_id) FROM {T} GROUP BY 1")
    hits = sum(len(set(nb) & ref["knn"].get(q, set())) for q, nb in knn)
    want = sum(len(v) for v in ref["knn"].values())
    if len(knn) != len(ref["knn"]) or hits < KNN_RECALL_FLOOR * want:
        bad.append(f"knn recall {hits}/{want} below {KNN_RECALL_FLOOR}")
    g = read("graph", "SELECT vertex, rank FROM {T}")
    if len(g) != len(ref["graph"]) or not all(
            math.isclose(r, ref["graph"].get(v, -1), rel_tol=1e-9) for v, r in g):
        bad.append("pagerank differs from the reference")
    con.close()
    return bad


def check_batch(plan, res, work):
    ref = _batch_reference(plan)
    runs = res.get("runs", [])
    notes = []
    failed = 0
    for r in runs:
        bad = _check_batch_run(f"{work}/out/r{r['run']}", ref)
        failed += bool(bad)
        notes += [f"batch run {r['run']}: {b}" for b in bad]
    return max(len(runs), 1), failed + (not runs), notes


# ---- server --------------------------------------------------------------

def check_server(plan, res, work):
    d = plan["input"]
    con = _con({"ord": f"{d}/orders.parquet", "li": f"{d}/lineitem.parquet",
                "cust": f"{d}/customer.parquet", "ev": f"{d}/events.parquet"})
    want = {}
    notes, failed = [], 0
    reqs = res.get("requests", [])
    for r in reqs:
        ci = r["config"]
        if ci not in want:
            want[ci] = con.execute(
                f"SELECT count(*) FROM ({plan['configs'][ci]['sql']})").fetchone()[0]
        got = json.loads(r["body"]).get("counts", {}).get("out") if r["code"] == 200 else None
        if got != want[ci]:
            failed += 1
            if len(notes) < 5:
                notes.append(f"request {r['seq']} ({plan['configs'][ci]['template']}): "
                             f"code {r['code']}, out rows {got}, want {want[ci]}: "
                             f"{r['body'][:200]}")
    con.close()
    return max(len(reqs), 1), failed + (not reqs), notes


# ---- stream --------------------------------------------------------------

def check_stream(plan, res, work):
    staged = res.get("staged", [])
    files = [f["path"] for f in plan["files"]]
    src = plan["source_dir"]
    paths = [os.path.join(src, os.path.basename(p)) for p in files]
    notes, failed = [], 0
    if len(staged) != len(files):
        failed += len(files) - len(staged)
        notes.append(f"{len(files) - len(staged)} files never staged")
    if not all(os.path.exists(p) for p in paths):
        return len(files), len(files), notes + ["staged files missing"]
    lst = "[" + ",".join(f"'{p}'" for p in paths) + "]"
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet({lst})")
    win = plan.get("window_s", 60)
    # the last pane of every window, once the sentinel closed them all,
    # is the on-time pane and holds the whole window
    want = con.execute(f"""
        SELECT CAST(floor(epoch(ts) / {win}) * {win} AS BIGINT) AS ws, event_type, count(*), sum(value)
        FROM ev GROUP BY ALL ORDER BY 1, 2""").fetchall()
    got = con.execute(f"""
        SELECT epoch("window"."start"::TIMESTAMPTZ)::BIGINT AS ws, event_type, n, total
        FROM read_parquet('{work}/out/panes/*.parquet')
        WHERE __pane = 'onTime' ORDER BY 1, 2""").fetchall()
    if not _same(got, want):
        failed += 1
        notes.append(f"on-time panes differ from the batch answer ({len(got)} vs {len(want)} rows)")
    iv = plan.get("interval_s", 60)
    want = con.execute(f"""
        WITH c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
             p AS (SELECT event_id AS wid, user_id, ts AS s,
                          ts + INTERVAL {iv} SECOND AS e FROM ev WHERE event_type = 'purchase')
        SELECT c.event_id, p.wid FROM c LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e
        ORDER BY 1, 2 NULLS FIRST""").fetchall()
    got = con.execute(f"""
        SELECT event_id, window_id FROM read_parquet('{work}/out/join/*.parquet')
        WHERE event_id >= 0 ORDER BY 1, 2 NULLS FIRST""").fetchall()
    if got != want:
        failed += 1
        notes.append(f"interval join differs from the batch answer ({len(got)} vs {len(want)} rows)")
    con.close()
    return len(files), failed, notes


def check(workload, plan, res, work):
    return {"batch": check_batch, "server": check_server,
            "stream": check_stream}[workload](plan, res, work)
