"""Seeded inputs and truth for the analyze_traces workload.

    python3 gen_analyze.py SEED DIR ORACLE_SQL

writes into DIR
    spans/part-N.jsonl  a trace forest as OTLP/JSON lines, one trace per
                        line: varied depth (1-16), fan-out, orphan spans
    truth_*.parquet     the exact output each trace operator must produce
    registry/           the tables the query registry registers: clustered
                        64-d vectors as embeddings.parquet, which
                        dd_semantic_clusters reads, and one-row stubs of
                        the tables it does not read
    truth_semantic_clusters.parquet
                        that query's output, computed by DuckDB running
                        ORACLE_SQL, the query's oracle from the registry
"""
import json
import random
import sys
from collections import defaultdict
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

N_TRACES = 2000
FILES = 8
SERVICES = [f"svc-{i}" for i in range(12)]
OPS = [f"op-{w}" for w in ("get", "put", "list", "auth", "query", "render", "pay",
                             "ship", "cache", "index", "scan", "merge", "send", "poll")]
BASE_US = 1_700_000_000_000_000
N_VECTORS = 600
N_CENTERS = 12
# the registry's fixture tables besides embeddings (graft.Tables)
STUBS = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "documents")


def forest(rnd):
    """Span rows (trace, span, parent, service, name, start_us, dur_ns, status)."""
    rows = []
    span_no = 0
    for t in range(N_TRACES):
        tid = f"{t:08x}{rnd.getrandbits(96):024x}"
        depth = 1 + int(rnd.random() ** 1.6 * 16)  # many shallow, some deep to 16
        t0 = rnd.randrange(3600 * 1_000_000)
        nodes = []  # (span, parent, level, start_us, dur_ns)

        def add(parent, level, start, budget):
            nonlocal span_no
            span_no += 1
            sid = f"{span_no:08x}{rnd.getrandbits(32):08x}"
            dur = max(1000, int(budget * (0.3 + 0.7 * rnd.random())))
            nodes.append((sid, parent, level, start, dur))
            return sid, dur

        root, rdur = add(None, 0, t0, 200_000_000)
        frontier = [(root, 0, t0, rdur)]
        spine = root
        for lvl in range(1, depth):  # one chain reaches the target depth
            sid, d = add(spine, lvl, t0 + lvl, rdur // (lvl + 1))
            frontier.append((sid, lvl, t0 + lvl, d))
            spine = sid
        for sid, lvl, start, d in list(frontier):  # branches off the chain
            for _ in range(rnd.choice((0, 0, 1, 1, 2, 3))):
                add(sid, lvl + 1, start + rnd.randrange(1000), d // 2)
        if len(nodes) > 2 and rnd.random() < 0.05:  # orphan: parent span was dropped
            i = rnd.randrange(1, len(nodes))
            s, _, lvl, st, d = nodes[i]
            nodes[i] = (s, f"dead{rnd.getrandbits(48):012x}", lvl, st, d)
        for s, p, _, st, d in nodes:
            status = 2 if rnd.random() < 0.03 else 1
            rows.append((tid, s, p, rnd.choice(SERVICES), rnd.choice(OPS), st, d, status))
    return rows


def truths(rows):
    by_trace = defaultdict(list)
    for r in rows:
        by_trace[r[0]].append(r)
    tree, cpath = [], []
    self_ns = defaultdict(lambda: [0, 0, 0])
    red = defaultdict(lambda: [0, 0, 0, 0])
    graph = defaultdict(lambda: [0, 0, 0])
    for tid, spans in by_trace.items():
        by_id = {s[1]: s for s in spans}
        child_sum = defaultdict(int)
        for s in spans:
            if s[2] in by_id:
                child_sum[s[2]] += s[6]
        memo = {}

        def walk(sid):  # (edges to root, path ns inclusive)
            if sid in memo:
                return memo[sid]
            s = by_id[sid]
            if s[2] in by_id:
                d, w = walk(s[2])
                res = (d + 1, w + s[6])
            else:
                res = (0, s[6])
            memo[sid] = res
            return res

        depths = [walk(s[1]) for s in spans]
        roots = sum(1 for s in spans if s[2] not in by_id)
        tree.append((tid, len(spans), roots, max(d for d, _ in depths),
                     max(w for _, w in depths), sum(s[6] for s in spans)))
        # critical path: walk up from the span that ends last
        tgt = max(spans, key=lambda s: (s[5] * 1000 + s[6], s[1]))
        path, pdur, hops, par, dangling = tgt[4], tgt[6], 0, tgt[2], False
        while par is not None:
            if par not in by_id:
                dangling = True
                break
            p = by_id[par]
            path, pdur, hops, par = f"{p[4]}>{path}", pdur + p[6], hops + 1, p[2]
        cpath.append((tid, path, hops, pdur, not dangling))
        for s in spans:
            st = self_ns[s[3]]
            st[0] += 1
            st[1] += s[6] - child_sum.get(s[1], 0)
            st[2] += s[6]
            rm = red[(s[3], s[4])]
            rm[0] += 1
            rm[1] += s[7] == 2
            rm[2] += s[6]
            rm[3] = max(rm[3], s[6])
            if s[2] in by_id:
                g = graph[(by_id[s[2]][3], s[3])]
                g[0] += 1
                g[1] += s[7] == 2
                g[2] += s[6]
    return tree, cpath, self_ns, red, graph


def table(cols, types, rows):
    return pa.table({c: pa.array([r[i] for r in rows], type=t)
                     for i, (c, t) in enumerate(zip(cols, types))})


def otlp_lines(rows):
    """One OTLP/JSON envelope per trace, one resourceSpans per service."""
    by_trace = defaultdict(lambda: defaultdict(list))
    for tid, sid, par, svc, name, start_us, dur, status in rows:
        start = (BASE_US + start_us) * 1000
        span = {"traceId": tid, "spanId": sid, "name": name, "kind": 1,
                "startTimeUnixNano": str(start), "endTimeUnixNano": str(start + dur),
                "status": {"code": status}}
        if par is not None:
            span["parentSpanId"] = par
        by_trace[tid][svc].append(span)
    for services in by_trace.values():
        yield json.dumps({"resourceSpans": [
            {"resource": {"attributes": [{"key": "service.name",
                                          "value": {"stringValue": svc}}]},
             "scopeSpans": [{"scope": {"name": "e2ebench"}, "spans": spans}]}
            for svc, spans in services.items()]}, separators=(",", ":"))


def spans(seed, out):
    rows = forest(random.Random(seed))
    files = [open(f"{out}/spans/part-{i}.jsonl", "w") for i in range(FILES)]
    for i, line in enumerate(otlp_lines(rows)):
        files[i % FILES].write(line + "\n")
    for f in files:
        f.close()

    tree, cpath, self_ns, red, graph = truths(rows)
    i64, s, i32, b = pa.int64(), pa.string(), pa.int32(), pa.bool_()
    pq.write_table(table(["trace_id", "n_spans", "n_roots", "max_depth", "critical_path_ns",
                          "total_span_ns"], [s, i64, i64, i32, i64, i64], tree),
                   f"{out}/truth_trace_tree.parquet")
    pq.write_table(table(["trace_id", "path", "n_hops", "path_dur_ns", "reached_root"],
                         [s, s, i32, i64, b], cpath), f"{out}/truth_critical_path.parquet")
    pq.write_table(table(["service_name", "n_spans", "self_ns", "total_ns"], [s, i64, i64, i64],
                         [(k, *v) for k, v in self_ns.items()]), f"{out}/truth_self_time.parquet")
    pq.write_table(table(["service_name", "span_name", "n_spans", "n_errors", "total_ns", "max_ns"],
                         [s, s, i64, i64, i64, i64], [(*k, *v) for k, v in red.items()]),
                   f"{out}/truth_red_metrics.parquet")
    pq.write_table(table(["caller_service", "callee_service", "n_calls", "n_errors",
                          "total_callee_ns"], [s, s, i64, i64, i64],
                         [(*k, *v) for k, v in graph.items()]),
                   f"{out}/truth_service_graph.parquet")


def embeddings(seed, out, oracle_sql):
    """Vectors scattered around a few centers, so the k-NN graph has
    components of several sizes; the truth is the oracle's answer."""
    rnd = random.Random(seed * 7919 + 1)
    centers = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(N_CENTERS)]
    vecs = [[x + rnd.gauss(0, 0.9) for x in rnd.choice(centers)] for _ in range(N_VECTORS)]
    reg = Path(out, "registry")
    reg.mkdir()
    for t in STUBS:
        pq.write_table(pa.table({"stub": pa.array([0], pa.int32())}), reg / f"{t}.parquet")
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("us"))}), reg / "events.parquet")
    f = reg / "embeddings.parquet"
    pq.write_table(pa.table({"vec_id": pa.array(range(N_VECTORS), pa.int64()),
                             "embedding": pa.array(vecs, pa.list_(pa.float32()))}), f)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{f}')")
        truth = con.execute(Path(oracle_sql).read_text()).arrow()
    finally:
        con.close()
    pq.write_table(truth, f"{out}/truth_semantic_clusters.parquet")


if __name__ == "__main__":
    Path(sys.argv[2], "spans").mkdir(parents=True, exist_ok=True)
    spans(int(sys.argv[1]), sys.argv[2])
    embeddings(int(sys.argv[1]), sys.argv[2], sys.argv[3])
