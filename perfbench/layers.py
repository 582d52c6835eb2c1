"""Metrics from one run's raw records.

End-to-end metrics come from the untraced run's samples. Per-layer
metrics come from the traced run: a tree of spans per operation (a
pipeline run, a request, or the measured part of the stream run), with
Spark jobs, stages and Catalyst phases attached below the span that was
open when they ran. A layer's self time is the time in which one of its
spans is the innermost open one; time in which several innermost spans
are open at once (concurrent jobs, two streaming queries) is split
evenly between them, so the self times of all layers add up to the
operation's wall time exactly.
"""
import statistics
from collections import defaultdict

CORES = 4
LAYERS = ["harness", "config", "pipeline", "catalyst", "execution", "sink", "streaming",
          "server", "loadgen"]
MB = 1048576.0


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Percentile q (0-100) with linear interpolation."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def m(value, unit):
    return {"value": float(value), "unit": unit}


# ---- stream latency ------------------------------------------------------

def _coverage(res):
    """(query, source) -> sorted [(end_ms, cumulative rows / rows per staged row)]."""
    prog = sorted(res.get("progress", []), key=lambda p: p["end"])
    total = res["staged"][-1]["cum_rows"] if res.get("staged") else 1
    final = {}
    for p in prog:
        for s, c in enumerate(p["cumulative"]):
            final[(p["query"], s)] = c
    # a query reading the source twice (the self-join) counts each row twice
    mult = {k: max(1, round(v / total)) for k, v in final.items()}
    cov = defaultdict(list)
    for p in prog:
        for s, c in enumerate(p["cumulative"]):
            cov[(p["query"], s)].append((p["end"], c / mult[(p["query"], s)]))
    return cov


def _covered_at(cov, rows):
    """Time every query had committed a batch whose input covers `rows`."""
    t = 0.0
    for pts in cov.values():
        hit = next((e for e, c in pts if c >= rows), None)
        if hit is None:
            return None
        t = max(t, hit)
    return t


def event_latencies(res, files):
    cov = _coverage(res)
    out = []
    for f in files:
        t = _covered_at(cov, f["cum_rows"])
        if t is not None:
            out.append(t - f["sched"])
    return out


def open_loop_files(res, plan):
    nw, no = plan["warmup_files"], plan["open_loop_files"]
    return [f for f in res.get("staged", []) if nw <= f["file"] < nw + no]


def drain_rate(res):
    """Median over the backlog rounds of rows / time until every query consumed them."""
    cov = _coverage(res)
    rates = []
    for b in res.get("backlog", []):
        t = _covered_at(cov, b["cum_rows"])
        if t is not None:
            rates.append(b["rows"] / max((t - b["start"]) / 1000.0, 1e-9))
    return med(rates)


# ---- end to end ------------------------------------------------------------

def end_to_end(workload, plan, res):
    if workload == "batch":
        lat = [r["ms"] for r in res["runs"] if not r["cold"]]
        rows = sum(v for k, v in plan["sizes"].items()
                   if k in ("customer", "orders", "lineitem", "documents", "embeddings"))
        p50, p90 = med(lat), pct(lat, 90)
        thr = rows * len(lat) / (sum(lat) / 1000.0)
    elif workload == "server":
        lat = [r["end"] - r["start"] for r in res["requests"] if r["phase"] == "loaded"]
        p50, p90 = med(lat), pct(lat, 90)
        thr = len(lat) / (res["loaded_wall_ms"] / 1000.0)
    else:
        lat = event_latencies(res, open_loop_files(res, plan))
        p50, p90 = med(lat), pct(lat, 90)
        thr = drain_rate(res)
    metrics = {
        "setup_s": m(res["setup_s"], "s"),
        "peak_rss_mb": m(res["peak_rss_mb"], "MB"),
        "latency_p50_ms": m(p50, "ms"),
        "throughput_per_s": m(thr, "1/s"),
    }
    # the 90th percentile is printed, not gated: with the samples one run
    # affords, its run-to-run spread is wider than any allowed bound
    return metrics, {"latency_p90_ms": p90, "latency_samples": len(lat)}


# ---- traced run: the span tree -------------------------------------------

class Node:
    __slots__ = ("layer", "start", "end", "kids", "data")

    def __init__(self, layer, start, end, data=None):
        self.layer, self.start, self.end, self.kids, self.data = layer, start, end, [], data


def build_trees(res):
    """Root nodes (one per operation) with every record attached."""
    t = res["trace"]
    spans = {s["id"]: Node(s["layer"], s["start"], s["end"], s) for s in t["spans"]}
    roots = []
    for s in t["spans"]:
        n = spans[s["id"]]
        if s["parent"] in spans:
            spans[s["parent"]].kids.append(n)
        else:
            roots.append(n)
    flat = sorted(spans.values(), key=lambda n: n.end - n.start)

    def innermost(ts):
        return next((n for n in flat if n.start <= ts <= n.end), None)

    # micro-batches of the streaming queries, under the stream root
    batches = defaultdict(list)
    for p in res.get("progress", []):
        host = innermost(p["start"])
        while host is not None and host.data["parent"] in spans:
            host = spans[host.data["parent"]]
        if host is not None:
            b = Node("streaming", p["start"], p["end"], p)
            host.kids.append(b)
            batches[p["query"]].append(b)
    stage = {(s["stage"]): s for s in t["stages"] if s["attempt"] == 0}
    for j in t["jobs"]:
        parent = None
        g = j.get("group") or ""
        if g.startswith("gb-") and int(g[3:]) in spans:
            parent = spans[int(g[3:])]
        elif j.get("query"):
            parent = next((b for b in batches.get(j["query"], [])
                           if b.start <= j["start"] <= b.end), None)
        if parent is None:
            parent = innermost(j["start"])
        if parent is None:
            continue
        jn = Node("execution", j["start"], j["end"], j)
        parent.kids.append(jn)
        for sid in j["stages"]:
            s = stage.get(sid)
            if s and s["end"] > 0:
                jn.kids.append(Node("execution", s["start"], s["end"], s))
    # Catalyst phases run on the thread that plans; in a stream run that
    # is a query thread whose batch the phase cannot be matched to, so
    # there they are only counted (per_layer), not placed in the tree
    if not res.get("progress"):
        for ph in t["phases"]:
            host = innermost(ph["start"])
            if host is not None:
                host.kids.append(Node("catalyst", ph["start"], ph["end"], ph))
    return roots


def walk(n):
    yield n
    for k in n.kids:
        yield from walk(k)


def self_times(root):
    """Layer -> self time (ms) under root; sums to the root's duration."""
    events = []

    def clip(n, lo, hi, parent):
        s, e = max(n.start, lo), min(n.end, hi)
        if e <= s:
            return
        events.append((s, 1, id(n), n, parent))
        events.append((e, 0, id(n), n, parent))
        for k in n.kids:
            clip(k, s, e, n)

    clip(root, root.start, root.end, None)
    events.sort(key=lambda x: (x[0], x[1]))
    active_kids = defaultdict(int)
    active = {}
    out = defaultdict(float)
    last = root.start
    for ts, kind, key, n, parent in events:
        if ts > last and active:
            leaves = [a for k, a in active.items() if active_kids[k] == 0]
            for a in leaves:
                out[a.layer] += (ts - last) / len(leaves)
        last = ts
        if kind == 1:
            active[key] = n
            if parent is not None:
                active_kids[id(parent)] += 1
        else:
            active.pop(key, None)
            if parent is not None:
                active_kids[id(parent)] -= 1
    return out


def _exec(nodes, wall_ms):
    jobs = [n.data for n in nodes if n.layer == "execution" and "job" in n.data]
    st = [n.data for n in nodes if n.layer == "execution" and "stage" in n.data]
    task_s = sum(s["run_ms"] for s in st) / 1000.0
    return {
        "execution.jobs": len(jobs), "execution.stages": len(st),
        "execution.tasks": sum(s["tasks"] for s in st), "execution.task_s": task_s,
        "execution.core_util": task_s / max(wall_ms / 1000.0 * CORES, 1e-9),
        "execution.shuffle_read_mb": sum(s["shuffle_read"] for s in st) / MB,
        "execution.shuffle_write_mb": sum(s["shuffle_write"] for s in st) / MB,
        "execution.spill_mb": sum(s["spill"] for s in st) / MB,
        "execution.gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        "execution.failed_tasks": sum(s["failed"] for s in st),
        "sink.records": sum(s["out_records"] for s in st),
        "sink.bytes": sum(s["out_bytes"] for s in st),
    }


def _op_metrics(root):
    nodes = list(walk(root))
    wall = root.end - root.start
    x = {"trace.wall_ms": wall}
    x.update(_exec(nodes, wall))
    spans = [n for n in nodes if n.data is not None and "layer" in n.data]
    x["config.resolve_ms"] = sum(n.end - n.start for n in spans if n.layer == "config")
    build = [n for n in spans if n.layer == "pipeline"]
    x["pipeline.build_ms"] = sum(n.end - n.start for n in build)
    bnodes = [k for b in build for k in walk(b)]
    x["pipeline.build_jobs"] = sum(1 for n in bnodes if n.layer == "execution" and "job" in n.data)
    x["pipeline.build_task_s"] = sum(n.data["run_ms"] for n in bnodes
                                     if n.layer == "execution" and "stage" in n.data) / 1000.0
    for ph in ("analysis", "optimization", "planning"):
        x[f"catalyst.{ph}_ms"] = sum(n.end - n.start for n in nodes
                                     if n.layer == "catalyst" and n.data["phase"] == ph)
    x["sink.write_ms"] = sum(n.end - n.start for n in spans if n.layer == "sink")
    for layer, v in self_times(root).items():
        x[f"self.{layer}_ms"] = v
    return x


PER_LAYER = [
    "config.resolve_ms", "pipeline.build_ms", "pipeline.build_jobs", "pipeline.build_task_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "execution.jobs", "execution.stages", "execution.tasks", "execution.task_s",
    "execution.core_util", "execution.shuffle_read_mb", "execution.shuffle_write_mb",
    "execution.spill_mb", "execution.gc_s", "execution.failed_tasks",
    "cache.frames", "cache.peak_mb", "sink.write_ms", "sink.records", "sink.bytes",
    "streaming.batches", "streaming.useful_batch_share", "streaming.jobs_per_batch",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.state_rows", "streaming.state_mb",
    "streaming.state_commit_ms", "streaming.drain_ms",
    "server.service_ms", "server.queue_ms", "loadgen.lag_ms", "loadgen.input_rows",
] + [f"self.{x}_ms" for x in LAYERS] + ["trace.wall_ms", "trace.overhead_ms"]

UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB", "_share": "ratio", "_util": "ratio",
         ".bytes": "bytes", ".records": "count", "_rows": "count"}


def unit(name):
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


def per_layer(workload, plan, res):
    roots = build_trees(res)
    x = defaultdict(float)
    if workload == "batch":
        ops = [r for r in roots if r.data["rid"] != "r0"]
        per = [_op_metrics(r) for r in ops]
        ms = {True: [], False: []}
        for r in res["runs"]:
            if not r["cold"]:
                ms[r["traced"]].append(r["ms"])
        x["trace.overhead_ms"] = med(ms[True]) - med(ms[False])
        x["loadgen.input_rows"] = sum(v for k, v in plan["sizes"].items()
                                      if k in ("customer", "orders", "lineitem", "documents",
                                               "embeddings"))
    elif workload == "server":
        ops = roots
        per = [_op_metrics(r) for r in ops]
        single = [r for r in res["requests"] if r["phase"] == "single"]
        untr = [r["end"] - r["start"] for r in single if not r["traced"]]
        x["trace.overhead_ms"] = med(r.end - r.start for r in ops) - med(untr)
        http = [n for r in ops for n in walk(r) if n.layer == "server" and n.data
                and "layer" in n.data]
        x["server.service_ms"] = med(n.end - n.start for n in http)
        loaded = [r["end"] - r["start"] for r in res["requests"] if r["phase"] == "loaded"]
        x["server.queue_ms"] = med(loaded) - med(untr)
        x["loadgen.input_rows"] = sum(v for k, v in plan["sizes"].items()
                                      if k in ("customer", "orders", "lineitem", "events"))
    else:
        ops = [r for r in roots if r.data["name"] == "stream.run"]
        per = [_op_metrics(r) for r in ops]
        root = ops[0] if ops else None
        prog = [p for p in res["progress"]
                if root is not None and root.start <= p["start"] <= root.end]

        def d(k):
            return [p["durations"].get(k, 0) for p in prog]

        x["streaming.batches"] = len(prog)
        x["streaming.useful_batch_share"] = (sum(1 for p in prog if p["rows"] > 0)
                                             / max(len(prog), 1))
        nodes = list(walk(root)) if root else []
        qjobs = [n for n in nodes if n.layer == "execution" and "job" in n.data
                 and n.data.get("query")]
        x["streaming.jobs_per_batch"] = len(qjobs) / max(len(prog), 1)
        x["streaming.trigger_ms"] = med(d("triggerExecution"))
        x["streaming.add_batch_ms"] = med(d("addBatch"))
        x["streaming.query_planning_ms"] = med(d("queryPlanning"))
        x["streaming.wal_commit_ms"] = med(d("walCommit"))
        x["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)
        x["streaming.state_mb"] = max((p["state_bytes"] for p in prog), default=0) / MB
        x["streaming.state_commit_ms"] = med(p["state_commit_ms"] for p in prog)
        x["streaming.drain_ms"] = sum(n.end - n.start for n in nodes
                                      if n.layer == "streaming" and n.data
                                      and n.data.get("name") == "StreamRunner.drainAll") / max(
            len(res.get("backlog", [])), 1)
        files = open_loop_files(res, plan)
        x["loadgen.lag_ms"] = max((f["staged"] - f["sched"] for f in files), default=0)
        x["loadgen.input_rows"] = sum(f["rows"] for f in files)
        traced = [f for f in files if root is not None and f["sched"] >= root.start]
        untraced = [f for f in files if root is None or f["sched"] < root.start]
        x["trace.overhead_ms"] = (med(event_latencies(res, traced))
                                  - med(event_latencies(res, untraced)))
        # the set-up spans: config resolution and the Pipeline.execute
        # that starts the queries
        for r in roots:
            if r.layer == "config":
                x["config.resolve_ms"] = r.end - r.start
            if r.layer == "pipeline":
                x["pipeline.build_ms"] = r.end - r.start
    # per-operation metrics: self times and the wall are means (so they
    # stay additive), everything else the median over operations
    keys = {k for p in per for k in p}
    for k in keys:
        vals = [p.get(k, 0.0) for p in per]
        if k.startswith(("self.", "trace.wall")):
            x[k] = sum(vals) / len(vals)
        elif not (workload == "stream" and k in ("config.resolve_ms", "pipeline.build_ms")):
            x[k] = med(vals)
    if workload == "stream" and root is not None:
        for k in ("analysis", "optimization", "planning"):
            x[f"catalyst.{k}_ms"] = sum(
                ph["end"] - ph["start"] for ph in res["trace"]["phases"]
                if ph["phase"] == k and root.start <= ph["start"] <= root.end) / max(len(prog), 1)
    cache = res["trace"]["cache"]
    x["cache.frames"] = max((c["frames"] for c in cache), default=0)
    x["cache.peak_mb"] = max((c["mb"] for c in cache), default=0.0)
    return {k: m(x.get(k, 0.0), unit(k)) for k in PER_LAYER}
