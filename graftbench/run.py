#!/usr/bin/env python3
"""graft benchmark: two workloads, measured end to end and per layer.

Usage, from the root of a checkout:

    python3 graftbench/run.py --workload {interactive,scale,all}
        [--seed N] [--seconds S] [--trace 0|1] [--out DIR]

One run builds the engine and harness (graftbench/build.py, cached),
generates the seed's tables (graftbench/gen.py, cached per seed), starts one
JVM at local[nproc] and drives the workload's queries through
`SparkEntry.queries` one after another. It then checks every result and
prints one line per metric, with its unit and sample count, followed by one
JSON object as the last line of stdout. With --trace 0 that object holds the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run
(listeners attached). The full result, and with --trace 1 the span trace,
are written under --out (default .bench_build/results). Data generation and
the correctness compare happen outside every timed interval.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# Row fractions of sf1 (dev/gen_sf1.py): large is sf1/10, small is large/10.
LARGE_FRAC = 0.1
SMALL_FRAC = LARGE_FRAC / 10

WORKLOADS = {
    # fixed cost: construction, the graft.plans rules (spatial, range and
    # as-of joins) and job scheduling; q244 is the streaming as-of join
    "interactive": dict(size="small", tables=["nation", "customer", "events"],
                        stores=[], store_inputs=[],
                        queries=["q57_sql_join", "q245_sql_interval_auto",
                                 "q240_sql_asof_join", "q244_asof_stream_stream"]),
    # operator algorithms, partitioning, shuffle and core utilisation (the
    # distance join), and graft.sources both ways: the cold pass builds
    # every store (each JVM starts with an empty tmpdir), warm passes serve
    # pruned reads. `stores` are the store queries, `store_inputs` the tables
    # their stores are built from.
    "scale": dict(size="large", tables=["supplier", "customer", "events", "documents"],
                  queries=["q4_distance_join", "q48_persisted_filter",
                           "q152_interval_store_filter", "q86_bm25_store"],
                  stores=["q48_persisted_filter", "q152_interval_store_filter",
                          "q86_bm25_store"],
                  store_inputs=["customer", "events", "documents"]),
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
RULES = ["SpatialJoinRule", "RangeJoinRule", "AsOfJoinRule", "CellPruneRule"]
MB = float(1 << 20)
RUN_LIMIT_S = 160
# unmeasured warm passes between the cold pass and the measured window
WARMUP_S = 4
# a fixed heap: with a growing one, GC sizing varied from run to run and
# moved every query's time with it
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


# ---------------------------------------------------------------- inputs

def tables_for(bdir, seed, frac):
    """The seed's tables at one size; generated once, then reused."""
    d = os.path.join(bdir, "data", f"s{seed}_f{frac:g}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, frac)
        open(os.path.join(d, ".done"), "w").close()
        # keep the cache small: the newest 8 table sets
        old = sorted(glob.glob(os.path.join(bdir, "data", "s*")), key=os.path.getmtime)
        for o in old[:-8]:
            shutil.rmtree(o, ignore_errors=True)
    return d


# ------------------------------------------------------------ correctness

def canon(df):
    """Columns by name, rows sorted by every column (dev/check_oracle.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def same_checksum(a, b):
    """Row counts and exact-value hashes equal, floating sums within 1e-9 of
    their absolute sums (their summation order is not fixed)."""
    return (a["rows"] == b["rows"] and a["hash"] == b["hash"] and
            all(abs(x - y) <= 1e-9 * max(1.0, ax, ay)
                for x, y, ax, ay in zip(a["sum"], b["sum"], a["abs"], b["abs"])))


def check(data, out, res):
    """Returns {(pass, query): failure} and the cold pass's row counts. The
    cold pass's results are compared with the DuckDB oracle; every warm
    execution's checksum must match the cold result's."""
    import duckdb
    import pandas as pd
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    fails, rows = {}, {}
    for c in res["passes"][0]["queries"]:
        q = c["query"]
        if c["error"]:
            fails[(0, q)] = f"{q}: cold pass failed: {c['error']}"
            continue
        parts = glob.glob(os.path.join(out, "check", q, "*.parquet"))
        if not parts:
            fails[(0, q)] = f"{q}: the cold pass wrote no result"
            continue
        actual = canon(pd.concat([pd.read_parquet(p) for p in parts]))
        rows[q] = len(actual)
        if q not in oracle:
            fails[(0, q)] = f"{q}: no oracle"
            continue
        expected = canon(con.execute(oracle[q]).df())
        if list(expected.columns) != list(actual.columns):
            fails[(0, q)] = f"{q}: columns {list(actual.columns)} vs oracle {list(expected.columns)}"
        elif len(expected) != len(actual):
            fails[(0, q)] = f"{q}: {len(actual)} rows vs oracle {len(expected)}"
        else:
            bad = [col for col in expected.columns
                   if not expected[col].astype(str).equals(actual[col].astype(str))]
            if bad:
                fails[(0, q)] = f"{q}: column {bad[0]} differs from the oracle"
    cold = res["cold_checksums"]
    for p in res["passes"][1:]:
        for s in p["queries"]:
            q, key = s["query"], (p["pass"], s["query"])
            if s["error"]:
                fails[key] = f"{q} (pass {p['pass']}): {s['error']}"
            elif q not in cold:
                fails[key] = f"{q} (pass {p['pass']}): no cold result to compare with"
            elif not same_checksum(s["checksum"], cold[q]):
                fails[key] = (f"{q} (pass {p['pass']}): checksum differs from the cold "
                              f"result's ({s['rows']} rows, cold {cold[q]['rows']})")
    return fails, rows


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def query_medians(warm):
    """Each query's median wall time over the measured passes."""
    per_query = {}
    for p in warm:
        for s in p["queries"]:
            per_query.setdefault(s["query"], []).append(s["wall_s"])
    return [statistics.median(v) for v in per_query.values()]


def phases(s):
    """The (phase, start, end) spans of one query execution, in epoch ms."""
    return (("construct", s["start"], s["construct_end"]),
            ("plan", s["construct_end"], s["plan_end"]),
            ("execute", s["plan_end"], s["end"]))


def end_to_end(res, setup_s):
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    samples = [s["wall_s"] for p in warm for s in p["queries"]]
    medians = query_medians(warm)
    return {
        "setup_s": (setup_s, "s", 1),
        # a typical pass: the sum of each query's median, robust to one slow pass
        "pass_s": (sum(medians), "s", len(warm)),
        "query_p50_s": (statistics.median(samples), "s", len(samples)),
        "query_p90_s": (quantile(samples, 0.9), "s", len(samples)),
        "query_geomean_s": (math.exp(statistics.mean(math.log(x) for x in medians)),
                            "s", len(medians)),
    }


def spans_of(res):
    """query -> {construct, plan, execute} -> job -> stage spans of every pass."""
    spans = []

    def add(kind, name, start, end, parent, qid):
        spans.append(dict(id=len(spans), kind=kind, name=name, start=start, end=end,
                          parent=parent, query=qid))
        return len(spans) - 1

    for p in res["passes"]:
        pid = add("pass", f"{p['kind']}{p['pass']}", p["start"], p["end"], None, None)
        spans_at = []
        for i, s in enumerate(p["queries"]):
            qid = f"{p['kind']}{p['pass']}/{i}/{s['query']}"
            sq = add("query", s["query"], s["start"], s["end"], pid, qid)
            for ph, a, b in phases(s):
                spans_at.append((a, b, add(ph, ph, a, b, sq, qid), qid))
        job_span = {}
        for j in p.get("jobs", []):
            parent, qid = pid, None
            for a, b, sid, q in spans_at:
                if a - 1 <= j["start"] <= b + 1:
                    parent, qid = sid, q
                    break
            job_span[j["job"]] = (add("job", f"job {j['job']}", j["start"], j["end"],
                                      parent, qid), qid)
        for st in p.get("stages", []):
            parent, qid = job_span.get(st["job"], (pid, None))
            add("stage", f"stage {st['stage']}", st["start"], st["end"], parent, qid)
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_ms"] = (s["end"] - s["start"]) - union_ms(
            children.get(s["id"], []), s["start"], s["end"])
    return spans


def per_layer(res, input_mb, stores):
    cpus = res["cpus"]
    warm = [p for p in res["passes"] if p["kind"] == "warm"]

    def phase_of(qs, t):
        """(query, phase) of the execution running at epoch ms t."""
        for s in qs:
            for ph, a, b in phases(s):
                if a - 1 <= t <= b + 1:
                    return s["query"], ph
        return None, None

    def one(p):
        qs = p["queries"]
        jobs, stages, batches = p.get("jobs", []), p.get("stages", []), p.get("batches", [])
        job_at = {j["job"]: phase_of(qs, j["start"]) for j in jobs}
        job_phase = [ph for _, ph in job_at.values()]
        job_iv = [(j["start"], j["end"]) for j in jobs]
        wall = p["wall_s"]
        m = {
            "catalog.construct_s": sum(s["construct_s"] for s in qs),
            "catalog.construct_jobs": job_phase.count("construct"),
            "catalog.driver_gap_s": sum(
                (s["construct_end"] - s["start"]) -
                union_ms(job_iv, s["start"], s["construct_end"]) for s in qs) / 1e3,
            "plans.analysis_s": sum(s.get("phases", {}).get("analysis", 0) for s in qs) / 1e3,
            "plans.optimization_s": sum(s.get("phases", {}).get("optimization", 0) for s in qs) / 1e3,
            "plans.planning_s": sum(s.get("phases", {}).get("planning", 0) for s in qs) / 1e3,
            "plans.probe_jobs": job_phase.count("plan"),
            "exec.exec_s": sum(s["exec_s"] for s in qs),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(st["tasks"] for st in stages),
            "exec.task_busy_s": sum(st["busy_ms"] for st in stages) / 1e3,
            "exec.task_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
            "exec.sched_delay_s": sum(st["sched_ms"] for st in stages) / 1e3,
            "exec.driver_gap_s": (p["end"] - p["start"] - union_ms(job_iv, p["start"], p["end"])) / 1e3,
            "exec.gc_s": p["gc_s"],
            "exec.shuffle_write_mb": sum(st["shuffle_write"] for st in stages) / MB,
            "exec.shuffle_read_mb": sum(st["shuffle_read"] for st in stages) / MB,
            "exec.spill_mb": sum(st["spill"] for st in stages) / MB,
            "exec.input_mb": sum(st["input"] for st in stages) / MB,
            "sources.serve_input_mb": sum(st["input"] for st in stages
                                          if job_at.get(st["job"], (None, None))[0] in stores) / MB,
            "exec.rows_out": sum(max(s["rows"], 0) for s in qs),
            "exec.failed_tasks": sum(st["failed_tasks"] for st in stages),
            "streaming.batches": len(batches),
            "streaming.batch_s": sum(b["batch_ms"] for b in batches) / 1e3,
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
        }
        m["exec.core_util"] = m["exec.task_busy_s"] / (wall * cpus)
        weighted = [((st["max_task_ms"] / st["median_task_ms"]), st["end"] - st["start"])
                    for st in stages if st["median_task_ms"] > 0 and st["end"] > st["start"]]
        w = sum(d for _, d in weighted)
        m["exec.task_skew"] = sum(r * d for r, d in weighted) / w if w else 1.0
        for r in RULES:
            ns = inv = eff = 0
            for s in qs:
                rs = s.get("rules", {}).get(r)
                if rs:
                    ns, inv, eff = ns + rs["ns"], inv + rs["invocations"], eff + rs["effective"]
            m[f"plans.{r}.ms"] = ns / 1e6
            m[f"plans.{r}.effective_ratio"] = eff / inv if inv else 0.0
        return m

    per_pass = [one(p) for p in warm]
    m = {k: statistics.median(x[k] for x in per_pass) for k in per_pass[0]}
    store_mb = res["store"].get("store_bytes", 0) / MB
    m["sources.build_s"] = sum(s["construct_s"] for s in res["passes"][0]["queries"]
                               if s["query"] in stores)
    m["sources.store_mb"] = store_mb
    m["sources.store_files"] = res["store"].get("store_files", 0)
    m["sources.read_fraction"] = m["sources.serve_input_mb"] / store_mb if store_mb else 0.0
    m["sources.store_mb_per_input_mb"] = store_mb / input_mb if input_mb else 0.0
    m["trace.pass_s"] = sum(query_medians(warm))
    m["exec.peak_rss_mb"] = res["peak_rss_mb"]
    m["exec.cold_pass_s"] = res["passes"][0]["wall_s"]
    units = {}
    for k in m:
        units[k] = ("ratio" if k.endswith(("_ratio", "_util", "_skew", "_fraction",
                                           "_per_input_mb")) else
                    "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else
                    "ms" if k.endswith(".ms") else "count")
    return {k: (m[k], units[k], len(warm)) for k in sorted(m)}


# -------------------------------------------------------------------- run

def run_workload(wl, seed, seconds, trace, bdir, outdir):
    spec = WORKLOADS[wl]
    cp = build.build(bdir)
    # a run must end within RUN_LIMIT_S; only the first build may take longer
    deadline = time.perf_counter() + RUN_LIMIT_S
    frac = LARGE_FRAC if spec["size"] == "large" else SMALL_FRAC
    data = tables_for(bdir, seed, frac)
    run = os.path.join(bdir, "runs", f"{wl}-t{trace}")
    # the JVM's tmpdir starts empty, so the cold pass builds every store
    tmp = os.path.join(bdir, "tmp", wl)
    for d in (run, tmp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(run, "cwd"))
    os.makedirs(tmp)
    cpus = os.cpu_count() or 4
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Harness",
           f"data={data}", "queries=" + ",".join(spec["queries"]), f"out={run}",
           f"warmup={WARMUP_S}", f"seconds={seconds}", f"cpus={cpus}", f"trace={trace}",
           "tables=" + ",".join(spec["tables"])])
    err = open(os.path.join(run, "jvm.log"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=os.path.join(run, "cwd"), stdout=subprocess.PIPE,
                            stderr=err, text=True)
    try:
        first = proc.stdout.readline().strip()
        setup_s = time.perf_counter() - t0
        if first != "ready":
            raise RuntimeError("harness did not start; see " + err.name)
        proc.communicate(timeout=max(1.0, deadline - time.perf_counter()))
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        err.close()
    if proc.returncode != 0:
        raise RuntimeError(f"harness exited {proc.returncode}; see {err.name}")
    res = json.load(open(os.path.join(run, "trace_raw.json" if trace else "result.json")))
    fails, rows = check(data, run, res)
    attempted = sum(len(p["queries"]) for p in res["passes"])
    if trace:
        spans = spans_of(res)
        input_mb = sum(os.path.getsize(f"{data}/{t}.parquet") for t in spec["store_inputs"]) / MB
        metrics = per_layer(res, input_mb, spec["stores"])
    else:
        metrics = end_to_end(res, setup_s)
    failed = len(fails)
    summary = dict(workload=wl, seed=seed, trace=trace, seconds=seconds, cpus=cpus,
                   frac=frac, queries=spec["queries"], attempted=attempted, failed=failed,
                   failed_frac=failed / attempted, failures=list(fails.values()), check_rows=rows,
                   metrics={k: dict(value=v, unit=u, samples=n) for k, (v, u, n) in metrics.items()},
                   passes=[dict(kind=p["kind"], wall_s=p["wall_s"],
                                queries={s["query"]: s["wall_s"] for s in p["queries"]})
                           for p in res["passes"]])
    os.makedirs(outdir, exist_ok=True)
    stem = os.path.join(outdir, f"{wl}-{seed}-t{trace}")
    with open(stem + ".json", "w") as f:
        json.dump(summary, f, indent=1)
    if trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(spans, f)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=os.path.join(".bench_build", "results"))
    a = ap.parse_args()
    bdir = os.path.abspath(".bench_build")
    wls = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = []
    for wl in wls:
        r = run_workload(wl, a.seed, a.seconds, a.trace, bdir, os.path.abspath(a.out))
        results.append(r)
        for k, m in r["metrics"].items():
            print(f"{wl:12s} {k:36s} {m['value']:14.6f} {m['unit']:6s} n={m['samples']}")
        print(f"{wl:12s} {'failed_frac':36s} {r['failed_frac']:14.6f} {'ratio':6s} "
              f"n={r['attempted']}")
        for f in r["failures"]:
            print(f"{wl:12s} FAIL {f}")
    if len(results) == 1:
        metrics = {k: dict(value=m["value"], unit=m["unit"]) for k, m in results[0]["metrics"].items()}
    else:
        metrics = {f"{r['workload']}.{k}": dict(value=m["value"], unit=m["unit"])
                   for r in results for k, m in r["metrics"].items()}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps(dict(correct=failed == 0, attempted=attempted, failed=failed,
                          metrics=metrics)))


if __name__ == "__main__":
    main()
