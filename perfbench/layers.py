"""Analysis of the traced run's spans file.

The harness writes `spans.jsonl`: its own spans (run, session set-up, pass,
query, queries.build, queries.execute) with explicit parents, and engine
records taken from Spark's listeners (job, stage, batch, qe) with times and a
query id. This module attaches the engine records to the harness spans, splits
each query's wall time across layers, and computes the per-layer metrics.

Self time follows one rule: at every instant, time belongs to the deepest span
active then (the latest-started one on a tie). The self times of a query's
spans therefore add up to exactly its wall time, also when stages run
concurrently.
"""
import json
import statistics

# Micro-batch phases in the order MicroBatchExecution runs them; progress
# events give their durations only, so their spans are laid end to end from
# the trigger's start.
BATCH_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets"]

# Layers of a query's self time that are not the module doing the work.
ENGINE_LAYERS = {"bench", "queries", "spark", "streaming"}


class Node:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "qid",
                 "module", "pass_", "children")

    def __init__(self, id, parent, name, layer, start, end, qid=None,
                 module=None, pass_=-1):
        self.id, self.parent, self.name, self.layer = id, parent, name, layer
        self.start, self.end = start, max(start, end)
        self.qid, self.module, self.pass_ = qid, module, pass_
        self.children = []


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def build(lines):
    """Returns (nodes by id, query nodes by qid, engine records by kind)."""
    nodes, queries, records = {}, {}, {"job": [], "stage": [], "batch": [], "qe": []}
    for r in lines:
        if r["kind"] == "span":
            nodes[r["id"]] = Node(r["id"], r["parent"] or None, r["name"], r["layer"],
                                  r["start_us"], r["end_us"], r["qid"], r["module"], r["pass"])
        else:
            records[r["kind"]].append(r)
    for n in nodes.values():
        if n.parent in nodes:
            nodes[n.parent].children.append(n)
        if n.name == "query":
            queries[n.qid] = n
    # the pass number lives on the pass span and the module on the query span
    for q in queries.values():
        q.pass_ = nodes[q.parent].pass_ if q.parent in nodes else -1
        for c in q.children:
            c.pass_, c.module = q.pass_, q.module
    ordered = sorted(queries.values(), key=lambda q: q.start)
    next_id = [max(nodes, default=0) + 1]

    def add(parent, name, layer, start, end):
        start = min(max(start, parent.start), parent.end)
        end = min(max(end, start), parent.end)
        n = Node(next_id[0], parent.id, name, layer, start, end, parent.qid,
                 parent.module, parent.pass_)
        next_id[0] += 1
        nodes[n.id] = n
        parent.children.append(n)
        return n

    def query_at(t):
        # queries run one at a time, so time alone names the query
        for q in ordered:
            if q.start <= t <= q.end:
                return q
        return None

    def innermost(root, t):
        for c in root.children:
            if c.start <= t <= c.end and (c.name in ("queries.build", "queries.execute")
                                          or c.name.startswith("streaming.")):
                return innermost(c, t)
        return root

    for b in sorted(records["batch"], key=lambda r: r["start_us"]):
        q = query_at(b["start_us"])
        if q is None:
            continue
        bn = add(innermost(q, b["start_us"]), "streaming.batch", "streaming",
                 b["start_us"], b["end_us"])
        t = b["start_us"]
        for ph in BATCH_PHASES:
            d = b["durations_ms"].get(ph, 0) * 1000
            if d > 0:
                add(bn, "streaming." + ph, "streaming", t, t + d)
                t += d
    jobs = {}
    for j in sorted(records["job"], key=lambda r: r["start_us"]):
        q = queries.get(j["qid"]) or query_at(j["start_us"])
        if q is None:
            continue
        j["pass"] = q.pass_
        jobs[j["id"]] = add(innermost(q, j["start_us"]), "spark.job", "spark",
                            j["start_us"], j["end_us"])
    for s in records["stage"]:
        jn = jobs.get(s["job"])
        if jn is None:
            q = query_at(s["start_us"])
            if q is None:
                continue
            jn = innermost(q, s["start_us"])
        s["pass"] = jn.pass_
        add(jn, "spark.stage", jn.module or "spark", s["start_us"], s["end_us"])
    for r in records["qe"]:
        q = query_at(r["start_us"])
        r["pass"] = q.pass_ if q else -1
    for r in records["batch"]:
        q = query_at(r["start_us"])
        r["pass"] = q.pass_ if q else -1
    return nodes, queries, records


def self_times(root):
    """Layer -> seconds for the subtree of `root`, by the deepest-span rule."""
    spans = []

    def walk(n, depth):
        spans.append((n.start, n.end, depth, n))
        for c in n.children:
            walk(c, depth + 1)
    walk(root, 0)
    cuts = sorted({t for s in spans for t in (s[0], s[1])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        active = [s for s in spans if s[0] <= a and s[1] >= b]
        if not active:
            continue
        top = max(active, key=lambda s: (s[2], s[0]))[3]
        out[top.layer] = out.get(top.layer, 0.0) + (b - a) / 1e6
    return out


def union_s(intervals, lo, hi):
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e6


def query_layers(queries, passes):
    """One record per query execution of the given passes."""
    out = []
    for q in sorted(queries.values(), key=lambda q: q.start):
        if q.pass_ not in passes:
            continue
        wall = (q.end - q.start) / 1e6
        layers = self_times(q)
        attributed = sum(v for k, v in layers.items() if k != "bench")
        out.append({
            "qid": q.qid, "query": q.qid.split("/", 1)[1], "pass": q.pass_,
            "module": q.module, "wall_s": wall,
            "layers": {k: round(v, 6) for k, v in sorted(layers.items())},
            "coverage": attributed / wall if wall > 0 else 1.0,
        })
    return out


def layer_metrics(result, lines, slots):
    """Per-layer metrics of a traced run: means over its traced warm passes,
    except set-up (the first, cold set-up) and codegen (the cold pass)."""
    nodes, queries, rec = build(lines)
    passes = result["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    idx = {int(p["index"]) for p in traced}
    pass_nodes = {n.pass_: n for n in nodes.values() if n.name == "pass"}
    k = max(len(traced), 1)

    def per_pass(values):
        return sum(values) / k

    jobs = [j for j in rec["job"] if j.get("pass") in idx]
    stages = [s for s in rec["stage"] if s.get("pass") in idx]
    batches = [b for b in rec["batch"] if b.get("pass") in idx]
    qes = [r for r in rec["qe"] if r.get("pass") in idx]
    qruns = [qr for p in traced for qr in p["queries"]]
    wall = sum(p["wall_s"] for p in traced)
    gap = sum((pass_nodes[i].end - pass_nodes[i].start) / 1e6
              - union_s([(j["start_us"], j["end_us"]) for j in jobs if j["pass"] == i],
                        pass_nodes[i].start, pass_nodes[i].end)
              for i in idx if i in pass_nodes)
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    run_s = sum(s["run_ms"] for s in stages) / 1e3

    def dur(name):
        return sum(b["durations_ms"].get(name, 0) for b in batches) / 1e3

    def state_peak(field):
        peak = {}
        for b in batches:
            peak[b["run_id"]] = max(peak.get(b["run_id"], 0), b[field])
        return sum(peak.values())

    def phase_s(module, phase):
        return sum((c.end - c.start) / 1e6 for q in queries.values()
                   if q.pass_ in idx and q.module == module
                   for c in q.children if c.name == phase)

    rows = query_layers(queries, idx)
    selfs = {}
    for r in rows:
        for layer, v in r["layers"].items():
            selfs[layer] = selfs.get(layer, 0.0) + v
    module_self = sum(v for layer, v in selfs.items() if layer not in ENGINE_LAYERS)
    cold_setup = result["setups"][0]
    cg = result["codegen_cold"]
    med = statistics.median
    m = {
        "session.create_s": cold_setup["create_s"],
        "session.register_s": cold_setup["register_s"],
        "queries.build_s": per_pass(q["build_s"] for q in qruns),
        "queries.build_jobs": per_pass(1 for j in jobs if j["phase"] == "build"),
        "queries.execute_s": per_pass(q["execute_s"] for q in qruns),
        "pipeline.build_s": phase_s("pipeline", "queries.build") / k,
        "pipeline.execute_s": phase_s("pipeline", "queries.execute") / k,
        "spark.analysis_s": per_pass(r["analysis_ms"] / 1e3 for r in qes),
        "spark.optimization_s": per_pass(r["optimization_ms"] / 1e3 for r in qes),
        "spark.planning_s": per_pass(r["planning_ms"] / 1e3 for r in qes),
        "spark.codegen_compiles": cg["compiles"],
        "spark.codegen_s": cg["sum_ms"] / 1e3,
        "spark.jobs": per_pass(1 for _ in jobs),
        "spark.stages": per_pass(1 for _ in stages),
        "spark.tasks": per_pass(s["tasks"] for s in stages),
        "spark.driver_gap_s": gap / k,
        "spark.task_run_s": run_s / k,
        "spark.task_cpu_s": per_pass(s["cpu_ns"] / 1e9 for s in stages),
        "spark.core_busy": run_s / (wall * slots) if wall > 0 else 0.0,
        "spark.stage_skew_max": max(skews, default=1.0),
        "spark.input_rows": per_pass(s["input_rows"] for s in stages),
        "spark.input_bytes": per_pass(s["input_bytes"] for s in stages),
        "spark.shuffle_write_bytes": per_pass(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle_read_bytes": per_pass(s["shuffle_read_bytes"] for s in stages),
        "streaming.batches": per_pass(1 for _ in batches),
        "streaming.add_batch_s": dur("addBatch") / k,
        "streaming.wal_commit_s": dur("walCommit") / k,
        "streaming.query_planning_s": dur("queryPlanning") / k,
        "streaming.latest_offset_s": dur("latestOffset") / k,
        "streaming.state_commit_s": per_pass(b["state_commit_ms"] / 1e3 for b in batches),
        "streaming.state_rows_updated": per_pass(b["state_rows_updated"] for b in batches),
        "streaming.state_rows_total": state_peak("state_rows_total") / k,
        "streaming.state_memory_bytes": state_peak("state_memory_bytes") / k,
        "streaming.batch_ms_p50": med([b["durations_ms"].get("triggerExecution", 0)
                                       for b in batches] or [0.0]),
        "jvm.gc_s": per_pass(p["gc_s"] for p in traced),
        "self.queries_s": selfs.get("queries", 0.0) / k,
        "self.spark_s": selfs.get("spark", 0.0) / k,
        "self.streaming_s": selfs.get("streaming", 0.0) / k,
        "self.module_s": module_self / k,
        "trace.overhead_s": (med(p["wall_s"] for p in traced) - med(p["wall_s"] for p in untraced)
                             if traced and untraced else 0.0),
    }
    rollup = {"passes": sorted(idx), "self_s_per_pass": {l: v / k for l, v in sorted(selfs.items())},
              "wall_s_per_pass": wall / k,
              "coverage_min": min((r["coverage"] for r in rows), default=0.0)}
    return m, rows, rollup
