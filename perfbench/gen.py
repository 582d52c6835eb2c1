"""Seeded input generation for the three workloads.

Every input the program sees is made here, from the seed alone, before
any timing starts: parquet tables, pipeline configs, the server's
request stream and the stream's staged files. The sizes and shares
below are the ones recorded in perfbench/design.json.
"""
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# batch: about sf0.005 of the TPC-H-like star schema, plus the document
# and embedding corpora. Not sf0.1: one warm Pipeline.execute of the four
# legs already takes about 8 s on 4 cores at this size, nearly all of it
# fixed per-job and per-module cost
BATCH = {
    "customer": 750, "orders": 7500, "lineitem_per_order": 4,
    "documents": 600, "doc_tokens": (60, 240), "doc_near_dup_share": 0.25,
    "embeddings": 2000, "embedding_dim": 32, "embedding_near_dup_share": 0.1,
    "knn_queries": 100, "knn_k": 10, "hot_customer_share": 0.2,
    "pagerank_iterations": 5,
}
# server: sf0.001-sized inputs, about 20 templates, a share of requests
# repeating an earlier config byte for byte
SERVER = {
    "customer": 150, "orders": 1500, "lineitem_per_order": 4,
    "events": 1000, "requests": 1500, "repeat_share": 0.3,
}
# stream: one file per interval in the open loop, then a backlog
STREAM = {
    "rows_per_file": 75, "open_loop_files_per_s": 10.0,
    "backlog_files": 40, "backlog_rounds": 2, "warmup_files": 1,
    "event_seconds_per_file": 10, "max_disorder_s": 25,
    "hot_user_share": 0.2, "users": 500, "hot_users": 10,
    "window_s": 60, "lateness_s": 120, "interval_s": 60,
}

EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(arr):
    return pa.array(arr.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _choice(rng, opts, n):
    return pa.array(np.array(opts, dtype=object)[rng.integers(0, len(opts), n)])


def gen_star(rng, d, n_cust, n_ord, per_order, hot_share):
    """customer, orders, lineitem; a few hot customers own hot_share of orders."""
    os.makedirs(d, exist_ok=True)
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(f"{d}/customer.parquet", {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    cust = rng.integers(1, n_cust + 1, n_ord)
    hot = rng.random(n_ord) < hot_share
    cust[hot] = rng.integers(1, 6, hot.sum())
    odate = EPOCH_1992 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write(f"{d}/orders.parquet", {
        "o_orderkey": ok, "o_custkey": cust.astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 2 * per_order, n_ord)
    lok = np.repeat(ok, lines)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": lok, "l_partkey": rng.integers(1, 20001, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n_li).astype(np.int64), "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(ship),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": int(n_li)}


def gen_documents(rng, path, n, tok_range, dup_share):
    """Documents of vocabulary tokens; dup_share of them copy an earlier
    document (possibly itself a copy, so duplicate chains form) with one
    token changed near the end."""
    vocab = np.array([f"w{i}" for i in range(4000)], dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    docs, near = [], 0
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            toks = list(docs[rng.integers(0, i)])
            toks[-1 - rng.integers(0, 8)] = vocab[rng.integers(0, len(vocab))]
            near += 1
        else:
            toks = list(rng.choice(vocab, rng.integers(*tok_range), p=zipf))
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    _write(path, {
        "doc_id": np.arange(1, n + 1, dtype=np.int64), "text": pa.array(text),
        "lang": _choice(rng, ["en", "de", "fr"], n),
        "source": _choice(rng, ["crawl", "books", "wiki"], n),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    return near


def gen_embeddings(rng, path, n, dim, dup_share):
    """Vectors in tight families of about ten around 64 coarse centres, so
    a vector's true neighbours are well separated from the rest; dup_share
    of them are near-copies of an earlier vector."""
    centers = rng.normal(0, 1, (64, dim))
    fams = centers[rng.integers(0, 64, n // 10 + 1)] + rng.normal(0, 0.4, (n // 10 + 1, dim))
    fam = rng.integers(0, len(fams), n)
    vec = fams[fam] + rng.normal(0, 0.08, (n, dim))
    dup = rng.random(n) < dup_share
    dup[:10] = False
    for i in np.nonzero(dup)[0]:
        vec[i] = vec[rng.integers(0, i)] + rng.normal(0, 0.01, dim)
    vec = vec.astype(np.float32)
    _write(path, {
        "vec_id": np.arange(1, n + 1, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": fam.astype(np.int32),
    })
    return int(dup.sum())


BATCH_CONFIG = """
sources:
  - {name: li, module: storage, parameters: {path: "IN/lineitem.parquet"}}
  - {name: ord, module: storage, parameters: {path: "IN/orders.parquet"}}
  - {name: cust, module: storage, parameters: {path: "IN/customer.parquet"}}
  - {name: docs, module: storage, parameters: {path: "IN/documents.parquet"}}
  - {name: emb, module: storage, parameters: {path: "IN/embeddings.parquet"}}
transforms:
  - name: lif
    module: filter
    inputs: [li]
    parameters:
      filter: [{key: l_shipdate, op: "<", value: "SHIPCUT"}, {key: l_discount, op: "<=", value: DISCMAX}]
  - name: lis
    module: select
    inputs: [lif]
    parameters:
      select:
        - {name: l_orderkey}
        - {name: l_quantity}
        - {name: revenue, expression: "l_extendedprice * (1 - l_discount)"}
  - name: joined
    module: sql
    inputs: [lis, ord, cust]
    parameters:
      sql: "SELECT c.c_mktsegment, c.c_nationkey, o.o_orderpriority, l.revenue, l.l_quantity FROM lis l JOIN ord o ON l.l_orderkey = o.o_orderkey JOIN cust c ON o.o_custkey = c.c_custkey WHERE o.o_orderstatus <> 'STATUSOUT'"
  - name: agg
    module: aggregation
    inputs: [joined]
    parameters:
      groupFields: [c_mktsegment, c_nationkey, o_orderpriority]
      aggregations:
        - input: joined
          fields:
            - {name: n, op: count}
            - {name: revenue, op: sum, field: revenue}
            - {name: qty, op: sum, field: l_quantity}
  - name: ranked
    module: sort
    inputs: [agg]
    parameters:
      mode: global
      fields: [{field: revenue, order: descending}, {field: c_mktsegment}, {field: c_nationkey}, {field: o_orderpriority}]
  - name: chunks
    module: chunk
    inputs: [docs]
    parameters: {field: text, size: CHUNK, overlap: 0}
  - name: pairs
    module: sql
    inputs: [chunks]
    parameters:
      sql: "SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(chunk)) AS dup_id FROM chunks"
  - name: links
    module: sql
    inputs: [pairs]
    parameters:
      sql: "SELECT DISTINCT doc_id, dup_id FROM pairs WHERE dup_id < doc_id"
  - name: dd
    module: dedup
    inputs: [links, docs]
    parameters: {method: verdicts, idField: doc_id, dupField: dup_id, transitive: true, corpusInput: docs}
  - name: prof
    module: profile
    inputs: [dd]
    parameters:
      fields: [n_chars, __dup_of, lang]
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, centroids: 16, hashAlgo: md5}
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<=", value: NQUERY}]
  - name: knn
    module: similarity
    inputs: [idx, q, idx.codebook, idx.centroids]
    parameters: {method: ivf, field: embedding, idField: vec_id, k: KNN, nProbe: 4, indexInput: idx, codebookInput: idx.codebook, centroidsInput: idx.centroids}
  - name: knnout
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
  - name: edges
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT o_custkey AS src, CAST(pmod(o_orderkey * 31 + o_custkey * 7, NCUST) + 1 AS BIGINT) AS dst FROM ord WHERE o_orderpriority <> '5-LOW'"
  - name: pr
    module: graph
    inputs: [edges]
    parameters: {method: pagerank, srcField: src, dstField: dst, damping: 0.85, maxIterations: PRITER}
sinks:
  - {name: out_rel, module: storage, input: ranked, parameters: {output: "${args.out}/relational", format: parquet}}
  - {name: out_dedup, module: storage, input: dd, parameters: {output: "${args.out}/dedup", format: parquet}}
  - {name: out_profile, module: storage, input: prof, parameters: {output: "${args.out}/profile", format: parquet}}
  - {name: out_knn, module: storage, input: knnout, parameters: {output: "${args.out}/knn", format: parquet}}
  - {name: out_graph, module: storage, input: pr, parameters: {output: "${args.out}/graph", format: parquet}}
"""


def gen_batch(seed, work):
    rng = np.random.default_rng(seed)
    d = f"{work}/input"
    b = BATCH
    sizes = gen_star(rng, d, b["customer"], b["orders"], b["lineitem_per_order"],
                     b["hot_customer_share"])
    near_docs = gen_documents(rng, f"{d}/documents.parquet", b["documents"],
                              b["doc_tokens"], b["doc_near_dup_share"])
    near_vecs = gen_embeddings(rng, f"{d}/embeddings.parquet", b["embeddings"],
                               b["embedding_dim"], b["embedding_near_dup_share"])
    params = {
        "SHIPCUT": str(np.datetime64("1996-01-01") + int(rng.integers(0, 700))),
        "DISCMAX": f"{0.05 + rng.integers(0, 5) / 100:.2f}",
        "STATUSOUT": str(rng.choice(["F", "O", "P"])),
        "CHUNK": str(int(rng.integers(24, 40))),
        "NQUERY": str(b["knn_queries"]), "KNN": str(b["knn_k"]),
        "NCUST": str(b["customer"]), "PRITER": str(b["pagerank_iterations"]),
    }
    cfg = BATCH_CONFIG.replace("IN/", d + "/")
    for k, v in params.items():
        cfg = cfg.replace(k, v)
    sizes.update(documents=b["documents"], embeddings=b["embeddings"],
                 near_dup_documents=near_docs, near_dup_embeddings=near_vecs)
    return {"workload": "batch", "config": cfg, "params": params,
            "input": d, "sizes": sizes}


# --- server -------------------------------------------------------------
# Each template is (name, config body over sources ord/li/cust/ev, DuckDB
# SQL of the `out` collection). {a} {b} {c} are seeded literals.
TABLES = {"ord": "orders", "li": "lineitem", "cust": "customer", "ev": "events"}


def _sources(body, d):
    """The sources block: only the tables the template reads."""
    used = [n for n in TABLES if re.search(rf"\b{n}\b", body)]
    return "sources:\n" + "".join(
        f'  - {{name: {n}, module: storage, parameters: {{path: "{d}/{TABLES[n]}.parquet"}}}}\n'
        for n in used) + "transforms:\n"
TEMPLATES = [
    ("filter", """
  - name: out
    module: filter
    inputs: [ord]
    parameters: {filter: [{key: o_totalprice, op: ">", value: {p}}]}""",
     "SELECT * FROM ord WHERE o_totalprice > {p}"),
    ("filter_and", """
  - name: out
    module: filter
    inputs: [li]
    parameters: {filter: [{key: l_quantity, op: ">=", value: {q}}, {key: l_returnflag, op: "=", value: "{f}"}]}""",
     "SELECT * FROM li WHERE l_quantity >= {q} AND l_returnflag = '{f}'"),
    ("select", """
  - name: out
    module: select
    inputs: [li]
    parameters:
      select:
        - {name: l_orderkey}
        - {name: net, expression: "l_extendedprice * (1 - l_discount) + {q}"}""",
     "SELECT * FROM li"),
    ("agg_status", """
  - name: out
    module: aggregation
    inputs: [ord]
    parameters:
      groupFields: [o_orderstatus, o_orderpriority]
      aggregations:
        - input: ord
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: o_totalprice}""",
     "SELECT o_orderstatus, o_orderpriority FROM ord GROUP BY ALL"),
    ("agg_filtered", """
  - name: f
    module: filter
    inputs: [li]
    parameters: {filter: [{key: l_discount, op: "<", value: {d}}]}
  - name: out
    module: aggregation
    inputs: [f]
    parameters:
      groupFields: [l_returnflag, l_linestatus]
      aggregations:
        - input: f
          fields:
            - {name: qty, op: sum, field: l_quantity}
            - {name: mx, op: max, field: l_extendedprice}""",
     "SELECT l_returnflag, l_linestatus FROM li WHERE l_discount < {d} GROUP BY ALL"),
    ("sql_join", """
  - name: out
    module: sql
    inputs: [ord, cust]
    parameters:
      sql: "SELECT c.c_nationkey, count(*) AS n FROM ord o JOIN cust c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > {p} GROUP BY c.c_nationkey\"""",
     "SELECT c.c_nationkey FROM ord o JOIN cust c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > {p} GROUP BY ALL"),
    ("sql_join3", """
  - name: out
    module: sql
    inputs: [li, ord, cust]
    parameters:
      sql: "SELECT c.c_mktsegment, sum(l.l_extendedprice) AS rev FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey JOIN cust c ON o.o_custkey = c.c_custkey WHERE l.l_quantity < {q} GROUP BY c.c_mktsegment\"""",
     "SELECT c.c_mktsegment FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey JOIN cust c ON o.o_custkey = c.c_custkey WHERE l.l_quantity < {q} GROUP BY ALL"),
    ("sql_semi", """
  - name: out
    module: sql
    inputs: [cust, ord]
    parameters:
      sql: "SELECT * FROM cust WHERE c_custkey IN (SELECT o_custkey FROM ord WHERE o_orderpriority = '{o}')\"""",
     "SELECT * FROM cust WHERE c_custkey IN (SELECT o_custkey FROM ord WHERE o_orderpriority = '{o}')"),
    ("window_rank", """
  - name: out
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT * FROM (SELECT o_orderkey, o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM ord) WHERE rn <= {k}\"""",
     "SELECT * FROM (SELECT o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM ord) WHERE rn <= {k}"),
    ("window_running", """
  - name: out
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT user_id, ts, sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM ev WHERE event_type = '{e}'\"""",
     "SELECT * FROM ev WHERE event_type = '{e}'"),
    ("union", """
  - name: a
    module: filter
    inputs: [ord]
    parameters: {filter: [{key: o_orderstatus, op: "=", value: "{s}"}]}
  - name: b
    module: filter
    inputs: [ord]
    parameters: {filter: [{key: o_totalprice, op: "<", value: {p}}]}
  - name: out
    module: union
    inputs: [a, b]""",
     "SELECT * FROM ord WHERE o_orderstatus = '{s}' UNION ALL SELECT * FROM ord WHERE o_totalprice < {p}"),
    ("sort", """
  - name: f
    module: filter
    inputs: [li]
    parameters: {filter: [{key: l_quantity, op: ">", value: {q}}]}
  - name: out
    module: sort
    inputs: [f]
    parameters: {mode: global, fields: [{field: l_extendedprice, order: descending}, {field: l_orderkey}, {field: l_linenumber}]}""",
     "SELECT * FROM li WHERE l_quantity > {q}"),
    ("limit", """
  - name: out
    module: limit
    inputs: [ord]
    parameters: {count: {k}, orderField: o_totalprice, order: descending}""",
     "SELECT * FROM ord ORDER BY o_totalprice DESC LIMIT {k}"),
    ("pivot", """
  - name: out
    module: sql
    inputs: [li]
    parameters:
      sql: "SELECT * FROM (SELECT l_suppkey % {m} AS bucket, l_returnflag, l_quantity FROM li) PIVOT (sum(l_quantity) FOR l_returnflag IN ('A', 'N', 'R'))\"""",
     "SELECT l_suppkey % {m} AS bucket FROM li GROUP BY ALL"),
    ("unnest", """
  - name: s
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT o_orderkey, sequence(1, CAST(o_orderkey % {m} + 1 AS INT)) AS xs FROM ord WHERE o_totalprice > {p}"
  - name: out
    module: unnest
    inputs: [s]
    parameters: {path: xs}""",
     "SELECT unnest(range(1, CAST(o_orderkey % {m} + 2 AS INT))) FROM ord WHERE o_totalprice > {p}"),
    ("distinct_users", """
  - name: out
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT DISTINCT user_id FROM ev WHERE value > {v}\"""",
     "SELECT DISTINCT user_id FROM ev WHERE value > {v}"),
    ("left_join", """
  - name: out
    module: sql
    inputs: [cust, ord]
    parameters:
      sql: "SELECT c.c_custkey, o.o_orderkey FROM cust c LEFT JOIN ord o ON c.c_custkey = o.o_custkey AND o.o_totalprice > {p}\"""",
     "SELECT c.c_custkey FROM cust c LEFT JOIN ord o ON c.c_custkey = o.o_custkey AND o.o_totalprice > {p}"),
    ("having", """
  - name: out
    module: sql
    inputs: [li]
    parameters:
      sql: "SELECT l_orderkey, sum(l_quantity) AS q FROM li GROUP BY l_orderkey HAVING sum(l_quantity) > {h}\"""",
     "SELECT l_orderkey FROM li GROUP BY l_orderkey HAVING sum(l_quantity) > {h}"),
    ("select_filter_chain", """
  - name: s
    module: select
    inputs: [ev]
    parameters:
      select:
        - {name: event_id}
        - {name: user_id}
        - {name: v2, expression: "value * 2"}
  - name: out
    module: filter
    inputs: [s]
    parameters: {filter: [{key: v2, op: ">", value: {v}}]}""",
     "SELECT * FROM ev WHERE value * 2 > {v}"),
]


def _literals(rng):
    return {
        "p": f"{rng.uniform(50000, 400000):.2f}", "q": str(int(rng.integers(5, 45))),
        "f": str(rng.choice(["A", "N", "R"])), "d": f"{rng.integers(1, 10) / 100:.2f}",
        "o": str(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"])),
        "k": str(int(rng.integers(1, 6))), "e": str(rng.choice(["click", "view", "purchase"])),
        "s": str(rng.choice(["F", "O", "P"])), "m": str(int(rng.integers(3, 12))),
        "v": f"{rng.uniform(10, 150):.2f}", "h": str(int(rng.integers(60, 140))),
    }


def gen_events(rng, path, n, users, hot_users, hot_share, t0, span_s, disorder_s=0,
               first_id=1):
    uid = rng.integers(hot_users + 1, users + 1, n)
    hot = rng.random(n) < hot_share
    uid[hot] = rng.integers(1, hot_users + 1, hot.sum())
    base = np.sort(rng.uniform(0, span_s, n))
    jitter = rng.uniform(0, disorder_s, n) if disorder_s else 0
    sec = np.maximum(base - jitter, 0)
    ts = t0 + (sec * 1e6).astype("timedelta64[us]")
    etype = np.array(["view", "click", "purchase"], dtype=object)[
        rng.choice(3, n, p=[0.5, 0.35, 0.15])]
    _write(path, {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64), "ts": _ts(ts),
        "user_id": uid.astype(np.int64), "event_type": pa.array(etype),
        "value": np.round(rng.uniform(0, 100, n), 2),
        "props": pa.array([None] * n, type=pa.string()),
    })
    return n


def gen_server(seed, work):
    rng = np.random.default_rng(seed)
    d = f"{work}/input"
    s = SERVER
    sizes = gen_star(rng, d, s["customer"], s["orders"], s["lineitem_per_order"], 0.2)
    sizes["events"] = gen_events(rng, f"{d}/events.parquet", s["events"], 100, 5, 0.3,
                                 EPOCH_2024, 14 * 86400)
    # every block of len(TEMPLATES) requests holds each template once; the
    # order of templates and of repeats (a repeat resends an earlier config
    # of the same template byte for byte) is the same for every seed, so
    # runs differ only in data and literals, not in which templates a
    # short measuring window happens to catch
    shape = np.random.default_rng(0)
    reqs, distinct, repeats = [], [], 0
    sent = [[] for _ in TEMPLATES]
    while len(reqs) < s["requests"]:
        for ti in shape.permutation(len(TEMPLATES)):
            if sent[ti] and shape.random() < s["repeat_share"]:
                reqs.append(sent[ti][int(shape.integers(0, len(sent[ti])))])
                repeats += 1
                continue
            name, body, sql = TEMPLATES[ti]
            for k, v in _literals(rng).items():
                body = body.replace("{" + k + "}", v)
                sql = sql.replace("{" + k + "}", v)
            distinct.append({"template": name, "config": _sources(body, d) + body.lstrip("\n") + "\n",
                             "sql": sql})
            sent[ti].append(len(distinct) - 1)
            reqs.append(len(distinct) - 1)
    sizes.update(templates=len(TEMPLATES), requests=len(reqs), distinct_configs=len(distinct),
                 repeated_requests=repeats)
    return {"workload": "server", "input": d, "configs": distinct, "requests": reqs,
            "warmup_requests": len(TEMPLATES), "sizes": sizes}


STREAM_CONFIG = """
sources:
  - name: ev
    module: storage
    parameters: {path: "SRCDIR", format: parquet, stream: true}
transforms:
  - name: panes
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      exactPanes: true
      timestampField: ts
      window: {type: fixed, unit: second, size: WINDOW, allowedLateness: LATENESS}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
  - name: clicks
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'"
  - name: wins
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL INTERVALS SECONDS AS e FROM ev WHERE event_type = 'purchase'"
  - name: jn
    module: join
    inputs: [clicks, wins]
    parameters:
      method: interval
      how: left
      by: [user_id]
      leftOn: ts
      rightStart: s
      rightEnd: e
      maxIntervalSpan: INTERVALS
      leftWatermark: LATENESS
      rightWatermark: LATENESS
      stateShufflePartitions: 4
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: pane_sink
    module: storage
    input: panes
    parameters: {output: "OUT/panes", format: parquet, checkpointLocation: "OUT/ckpt_panes"}
  - name: join_sink
    module: storage
    input: sel
    parameters: {output: "OUT/join", format: parquet, checkpointLocation: "OUT/ckpt_join"}
"""


def gen_stream(seed, work, seconds):
    rng = np.random.default_rng(seed)
    s = STREAM
    stage = f"{work}/stage"
    os.makedirs(stage, exist_ok=True)
    n_open = max(100, int(round(seconds * s["open_loop_files_per_s"])))
    n_files = s["warmup_files"] + n_open + s["backlog_files"]
    files, next_id = [], 1
    for i in range(n_files):
        t0 = EPOCH_2024 + np.timedelta64(i * s["event_seconds_per_file"], "s")
        path = f"{stage}/f{i:05d}.parquet"
        n = gen_events(rng, path, s["rows_per_file"], s["users"], s["hot_users"],
                       s["hot_user_share"], t0, s["event_seconds_per_file"],
                       s["max_disorder_s"], next_id)
        next_id += n
        files.append({"path": path, "rows": n})
    # far-future sentinel click + purchase: advance every watermark so all
    # real windows close and unmatched clicks flush
    far = EPOCH_2024 + np.timedelta64(400 * 86400, "s")
    sent = f"{stage}/sentinel.parquet"
    _write(sent, {
        "event_id": np.array([-1, -2], dtype=np.int64), "ts": _ts(np.array([far, far])),
        "user_id": np.array([0, 0], dtype=np.int64),
        "event_type": pa.array(["click", "purchase"]),
        "value": np.array([0.0, 0.0]), "props": pa.array([None, None], type=pa.string()),
    })
    cfg = (STREAM_CONFIG.replace("SRCDIR", f"{work}/in").replace("OUT", f"{work}/out")
           .replace("WINDOW", str(s["window_s"])).replace("LATENESS", str(s["lateness_s"]))
           .replace("INTERVALS", str(s["interval_s"])))
    os.makedirs(f"{work}/in", exist_ok=True)
    return {"workload": "stream", "config": cfg, "files": files, "sentinel": sent,
            "source_dir": f"{work}/in", "warmup_files": s["warmup_files"],
            "open_loop_files": n_open, "backlog_files": s["backlog_files"],
            "backlog_rounds": s["backlog_rounds"],
            "interval_ms": 1000.0 / s["open_loop_files_per_s"],
            "watermark_wait": "2024-06-01T00:00:00Z",
            "window_s": s["window_s"], "interval_s": s["interval_s"],
            "sizes": {"files": n_files, "rows_per_file": s["rows_per_file"],
                      "rows": int(sum(f["rows"] for f in files))}}


def generate(workload, seed, work, seconds):
    os.makedirs(work, exist_ok=True)
    if workload == "batch":
        plan = gen_batch(seed, work)
    elif workload == "server":
        plan = gen_server(seed, work)
    else:
        plan = gen_stream(seed, work, seconds)
    with open(f"{work}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
