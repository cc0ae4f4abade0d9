#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

Usage (from the root of a graft checkout):
    python3 perfbench/run.py --workload <relational|corpus|stream-replay>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline),
runs the harness in one JVM with min(nproc, 3) task slots, checks every
query result of the cold pass against its DuckDB oracle answer with
`scripts/check.py`'s canonical compare, and prints as its last line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Everything it writes stays under `perfbench/.work/`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
CLASSPATH = os.path.join(WORK, "build", "classpath.txt")
JVM_LIMIT_S = 150          # the harness JVM; the whole run stays within 170 s
BUILD_LIMIT_S = 840
# Task slots are min(nproc, MAX_SLOTS): on a 4-core box one core stays free
# for the Spark driver thread, the JIT and the GC, which steadies the runs.
MAX_SLOTS = 3
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/check.py"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# Ladder for the tail rule: the highest of these with >= 10 samples beyond it.
PERCENTILE_LADDER = [0.5, 0.9, 0.99, 0.999]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def load_json(*parts):
    with open(os.path.join(*parts)) as f:
        return json.load(f)


def tail_percentile(n):
    """Highest ladder percentile with at least 10 of `n` samples beyond it, or None."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1 - p) >= 10 - 1e-9:
            best = p
    return best


def quantile(values, p):
    s = sorted(values)
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---------------------------------------------------------------- build

def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(ROOT, "build.sbt")))


def build():
    """Compiles graft and the harness once per checkout; returns the classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    log_path = os.path.join(WORK, "build", "sbt.log")
    log("building graft and the harness (sbt, offline)")
    t = time.monotonic()
    with open(log_path, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HARNESS, env=env, stdout=out, limit=BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log_path}", 3)
    cp = ""
    with open(log_path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("/") and ".jar" in line and ":" in line:
                cp = line
    if not cp:
        fail(f"build printed no classpath; see {log_path}", 3)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    log(f"built in {time.monotonic() - t:.1f} s")
    return cp


def run_bounded(cmd, cwd, env, stdout, limit, stderr=subprocess.STDOUT):
    """Runs `cmd` in its own process group and kills the whole group if it
    outlives `limit` seconds; always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- record

def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return None


def environment(args, slots, heap):
    rec = {"nproc": os.cpu_count(), "slots": slots, "seed": args.seed,
           "load_before": os.getloadavg(), "heap": heap, "git_commit": None}
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return rec  # an exported checkout carries no commit
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            rec["git_commit"] = out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return rec


# ---------------------------------------------------------------- correctness

def load_check():
    spec = importlib.util.spec_from_file_location("graft_check",
                                                  os.path.join(ROOT, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(cols, rows):
    """Hash of a result after check.py's canonicalization."""
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return h.hexdigest()


def check_results(results_dir, names, oracles):
    """Compares each query's parquet result with its cached oracle answer.
    Returns {query: None if it matches, else the reason}."""
    import duckdb
    check = load_check()
    out = {}
    con = duckdb.connect()
    try:
        for name in names:
            want = oracles.get(name)
            if want is None:
                out[name] = "no cached oracle answer"
                continue
            try:
                q = con.execute(f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'")
                cols = [d[0] for d in q.description]
                c, r = check.canon(q.fetchall(), cols)
            except Exception as e:  # an unreadable result is a wrong result
                out[name] = f"cannot read result: {e}"
                continue
            got = digest(c, r)
            out[name] = None if got == want["digest"] else \
                f"result differs from oracle ({len(r)} rows vs {want['rows']})"
    finally:
        con.close()
    return out


# ---------------------------------------------------------------- metrics

def end_to_end(result):
    """The end-to-end metrics: set-up from the first (cold) set-up, the rest
    from the cold pass and all warm passes."""
    warm = [p for p in result["passes"] if p["kind"] == "warm"]
    cold = [p for p in result["passes"] if p["kind"] == "cold"][0]
    setups = result["setups"]
    samples = [q["wall_s"] for p in warm for q in p["queries"] if q["error"] is None]
    by_query = {}
    for p in warm:
        for q in p["queries"]:
            by_query.setdefault(q["name"], []).append(q["wall_s"])
    per_query = [statistics.median(v) for v in by_query.values()]
    metrics = {
        "setup_s": setups[0]["total_s"],
        "cold_pass_s": cold["wall_s"],
        # a median pass: each query at its median warm time
        "pass_s": sum(per_query),
        # the median query, by its median warm time: a median over all samples
        # would fall between the time clusters of two queries and jump
        "query_s_p50": statistics.median(per_query),
        "heap_after_gc_mb": result["heap_after_gc_mb"],
    }
    tail = tail_percentile(len(samples))
    extra = {"query_samples": len(samples), "warm_passes": len(warm),
             # warm re-set-ups in the same JVM, for reference only
             "resetup_s": [s["total_s"] for s in setups[1:]],
             "query_s_tail": None if tail is None else
             {"percentile": tail, "value": quantile(samples, tail)}}
    return metrics, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a graft checkout (missing {', '.join(missing)}); run from its root")
    spec = load_json(BENCH, "workloads.json")
    bench = load_json(ROOT, "BENCHMARK.json")
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; one of {sorted(spec['workloads'])}")
    w = spec["workloads"][args.workload]
    nproc = os.cpu_count() or 1
    slots = min(nproc, MAX_SLOTS)
    fixtures = os.path.join(ROOT, spec["fixtures"])
    oracles = load_json(BENCH, "oracles.json")

    cp = build()
    rec = environment(args, slots, spec["heap"])
    ticks = cpu_ticks()
    out_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(out_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # cap Spark's in-memory job/query history, which otherwise grows
            # with the number of passes and blurs heap_after_gc_mb
            "-Dspark.sql.ui.retainedExecutions=20", "-Dspark.ui.retainedJobs=50",
            "-Dspark.ui.retainedStages=50",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--queries", ",".join(w["queries"]),
            "--modules", ",".join(f"{q}={m}" for q, m in w["queries"].items()),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--slots", str(slots),
            "--fixtures", fixtures,
            "--out", os.path.join(out_dir, "out")])
    log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"slots={slots}/{nproc}")
    with open(os.path.join(out_dir, "harness.log"), "w") as hl:
        rc = run_bounded(cmd, cwd=out_dir, env=os.environ, stdout=hl, stderr=hl,
                         limit=JVM_LIMIT_S)
    result_path = os.path.join(out_dir, "out", "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"harness exited {rc}; see {os.path.join(out_dir, 'harness.log')}", 5)
    result = load_json(result_path)
    rec.update(java=result["jvm"], java_version=result["java_version"],
               max_heap_mb=result["max_heap_mb"], load_after=os.getloadavg())
    ticks_after = cpu_ticks()
    if ticks and ticks_after:
        # CPU time the hypervisor gave to other guests while the JVM ran: a
        # run with high steal is slower for reasons outside the program
        rec["steal_share"] = (ticks_after[0] - ticks[0]) / max(ticks_after[1] - ticks[1], 1)

    # correctness, outside the timed region
    cold = [p for p in result["passes"] if p["kind"] == "cold"][0]
    ran = [q["name"] for q in cold["queries"] if q["error"] is None]
    wrong = check_results(os.path.join(out_dir, "out", "results"), ran, oracles)
    attempted = sum(len(p["queries"]) for p in result["passes"])
    errors = sum(1 for p in result["passes"] for q in p["queries"] if q["error"] is not None)
    mismatches = sum(1 for v in wrong.values() if v is not None)
    failed = errors + mismatches
    for name, why in sorted(wrong.items()):
        if why:
            log(f"WRONG {name}: {why}")

    e2e, extra = end_to_end(result)
    rec.update(extra, failed_ratio=failed / attempted, attempted=attempted, failed=failed,
               checked=len(wrong))
    if args.trace:
        import layers
        lines = layers.load(os.path.join(out_dir, "out", "spans.jsonl"))
        values, rows, rollup = layers.layer_metrics(result, lines, slots)
        with open(os.path.join(out_dir, "layers.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        with open(os.path.join(out_dir, "rollup.json"), "w") as f:
            json.dump(rollup, f, indent=1)
        wanted = bench["per_layer"]
        print(f"self time per layer, s per traced pass: "
              f"{json.dumps({k: round(v, 4) for k, v in rollup['self_s_per_pass'].items()})}")
        print(f"tracing overhead: {values['trace.overhead_s']:+.4f} s per pass "
              f"(traced minus untraced warm pass, same JVM); "
              f"min coverage {rollup['coverage_min']:.4f}; spans in "
              f"{os.path.relpath(os.path.join(out_dir, 'out', 'spans.jsonl'), ROOT)}")
    else:
        values = e2e
        wanted = bench["end_to_end"]
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump({"environment": rec, "metrics": values}, f, indent=1)
    print(f"run record: {json.dumps(rec)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
