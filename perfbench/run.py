#!/usr/bin/env python3
"""Repo benchmark: one workload per run, the result as one JSON line.

    python3 perfbench/run.py --workload serve_api --seed 1 --seconds 12 --trace 0

Run from the repo root. Workloads (perfbench/README.md has the details):

  serve_api    open-loop HTTP load on graft.serve.Server over a parquet grid store
  query_suite  oracle-checked query packs from SparkEntry.queries

The engine and the harness are compiled from source on first use (build.py).
With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` the run repeats its timed region with spans and a Spark
listener on, and reports the per-layer metrics instead. A failed output
check makes the run exit non-zero.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import client  # noqa: E402
import schedule  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("serve_api", "query_suite")
DEADLINE_S = 170.0
SERVE_SAMPLE_EVERY = 7   # every 7th point/stats response is checked against DuckDB
SUITE_SCALE = 0.01       # query_suite tables are sf0.01-shaped
QUERIES = ("q_anomaly", "q_zscore_severity", "q_percentile_rank", "q_asof_merge",
           "q_span_dedup", "q_sq_ivf_served", "q_chunk_docs", "q_netcdf_archive",
           "q_job_convert")
# Set-up repetitions per run; setup_s takes their median.
SETUP_REPS = {"serve_api": 2, "query_suite": 2}

END_TO_END = {"setup_s": "s", "live_heap_mb": "MB", "p50_ms": "ms", "cpu_s_per_op": "s"}
LAYERS = ("bench", "serve", "queries", "plans", "spark", "pipeline", "metrics")
METRICS = ("monthly", "seasonal", "climatology", "percentiles", "anomaly", "trend",
           "trend_significance")  # ServeApi.Metrics, timed by the traced serve_api run
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "task_skew_max")
ROUTES = ("point", "region", "stats", "metric", "metric_grid")
MAXIMA = ("spark.peak_exec_mem_bytes", "spark.task_skew_max")


def per_layer_units():
    """Every per-layer metric with its unit. A trace run reports all of
    them, with 0 for a layer its workload does not reach."""
    u = {f"serve.{r}_p50_ms": "ms" for r in ROUTES}
    u.update({"serve.tail_ms": "ms", "serve.metric_tail_ms": "ms", "serve.cache_hits": "count",
              "serve.cache_misses": "count", "serve.cache_hit_ratio": "ratio",
              "serve.spark_jobs_per_miss": "count", "serve.requests": "count",
              "serve.tail_percentile": "percent", "serve.beyond_tail": "count",
              "serve.slo_miss_ratio": "ratio", "loadgen.late_tail_ms": "ms"})
    u.update({"ingest.convert_s": "s", "ingest.store_bytes": "bytes",
              "ingest.store_files": "count", "ingest.rows": "count"})
    u.update({"plans.plan_ms": "ms", "plans.exec_ms": "ms"})
    u.update({f"metrics.{m}_s": "s" for m in METRICS})
    u.update({f"queries.{q}_s": "s" for q in QUERIES})
    u.update({"queries.suite_s": "s", "queries.max_s": "s"})
    special = {"executor_run_s": "s", "executor_cpu_s": "s", "task_skew_max": "ratio"}
    u.update({f"spark.{k}": special.get(k, "bytes" if k.endswith("bytes") else "count")
              for k in SPARK})
    u.update({f"self.{layer}_s": "s" for layer in LAYERS})
    u.update({"jvm.gc_s": "s", "host.steal_s": "s", "trace.overhead_ratio": "ratio",
              "trace.accounted_ratio": "ratio", "fail_ratio": "ratio"})
    return u


def log(msg, t0=time.monotonic()):
    print(f"[perfbench] {time.monotonic() - t0:7.1f}s {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_id(root):
    """The git commit when there is one, else a digest of the sources."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "sources-sha256:" + build.digest(build.sources(root))[:16]


class Harness:
    """The harness JVM: control lines on stdin/stdout, its log in a file."""

    def __init__(self, cmd, log_path):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)

    def expect(self, prefix):
        for line in self.proc.stdout:
            if line.startswith(prefix):
                return line.strip()
        raise RuntimeError(f"harness exited before {prefix!r}")

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def wait(self, deadline):
        try:
            return self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.log.close()


def serve_windows(h, plan, n_windows, connections):
    """Drive each timed window of serve_api; return each window's records."""
    keep = lambda k: plan[k][1] in ("point", "stats") and k % SERVE_SAMPLE_EVERY == 0  # noqa: E731
    out = []
    for _ in range(n_windows):
        port = int(h.expect("@@READY").split()[1])
        out.append(client.run(port, plan, connections, keep))
        h.send("DONE")
        h.expect("@@WINDOW_DONE")
    return out


def serve_e2e(recs, window):
    return {"p50_ms": schedule.median([r["latency_ms"] for r in recs]),
            "cpu_s_per_op": window["cpu_s"] / len(recs)}


def serve_layers(recs, window, spans):
    lat = [r["latency_ms"] for r in recs]
    pct, tail, beyond = schedule.tail(lat)
    out = {"serve.requests": len(recs), "serve.tail_ms": tail, "serve.tail_percentile": pct,
           "serve.beyond_tail": beyond,
           "serve.slo_miss_ratio": sum(schedule.slo_miss(r["status"], r["latency_ms"])
                                       for r in recs) / len(recs),
           "loadgen.late_tail_ms": schedule.tail([r["late_ms"] for r in recs])[1]}
    for route in ROUTES:
        xs = [r["latency_ms"] for r in recs if r["route"] == route]
        out[f"serve.{route}_p50_ms"] = schedule.median(xs) if xs else 0.0
        if route == "metric":
            out["serve.metric_tail_ms"] = schedule.tail(xs)[1] if xs else 0.0
    hits, misses = window["cache_hits"], window["cache_misses"]
    # only the jobs the requests submitted: those under the serve window span
    win = {s["id"] for s in spans if s["layer"] == "serve" and s["name"] == "window"}
    jobs = sum(1 for s in spans if s["layer"] == "spark" and s["parent"] in win)
    out.update({"serve.cache_hits": hits, "serve.cache_misses": misses,
                "serve.cache_hit_ratio": hits / max(1, hits + misses),
                "serve.spark_jobs_per_miss": jobs / misses if misses else 0.0})
    return out


def suite_e2e(window):
    return {"p50_ms": suite_layers(window)["queries.suite_s"] * 1e3,
            "cpu_s_per_op": window["cpu_s"] / window["passes"]}


def suite_layers(window):
    med = {q: schedule.median(v) for q, v in window["query_s"].items()}
    out = {f"queries.{q}_s": v for q, v in med.items()}
    out.update({"queries.suite_s": sum(med.values()), "queries.max_s": max(med.values())})
    return out


def trace_layers(spans, probe, window, ops, untraced, untraced_ops):
    """Span- and listener-derived metrics of the traced window, per pass
    (query_suite) or per window (serve_api, ops = 1). ``probe`` holds the
    spans of the calls made after the window (serve_api's plan and metric
    probes); a workload's plan spans lie in one of the two.
    """
    # maxima stay as they are; sums become per pass
    out = {k: v if k in MAXIMA else v / ops for k, v in window.get("counters", {}).items()}
    selfs = schedule.self_times(spans)
    out["trace.accounted_ratio"] = schedule.accounted_ratio(
        sum(selfs.values()) / ops, untraced["wall_s"] / untraced_ops)
    out.update({f"self.{layer}_s": selfs.get(layer, 0.0) / ops for layer in LAYERS})
    # the window never reaches these two layers; serve_api's metric probe does
    probe_selfs = schedule.self_times(probe)
    out.update({f"self.{layer}_s": probe_selfs.get(layer, 0.0) for layer in ("pipeline", "metrics")})
    for name in ("plan", "exec"):
        xs = [s["end_ns"] - s["start_ns"] for s in spans + probe
              if s["layer"] == "plans" and s["name"] == name]
        out[f"plans.{name}_ms"] = sum(xs) / len(xs) / 1e6 if xs else 0.0
    for s in probe:
        if s["layer"] == "metrics":
            out[f"metrics.{s['name']}_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
    out.update({"jvm.gc_s": window["gc_s"], "host.steal_s": window["steal_s"]})
    return out


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("run from the repo root: src/main/scala not found", file=sys.stderr)
        return 2
    cp = build.build(root)
    deadline = time.monotonic() + DEADLINE_S
    log("built")
    work = os.path.join(build.build_dir(root), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cpus()
    args = [f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"work={work}", f"cpus={n}", f"reps={SETUP_REPS[a.workload]}"]
    if a.workload == "serve_api":
        args += [f"nlat={schedule.NLAT}", f"nlon={schedule.NLON}", f"days={schedule.DAYS}"]
    else:
        tables.write(os.path.join(work, "tables"), scale=SUITE_SCALE)
        args += [f"tables={os.path.join(work, 'tables')}", f"queries={','.join(QUERIES)}"]
    cmd = (build.java_command(cp, os.path.join(work, "tmp"))
           + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "graftbench.Main", "run"] + args)
    h = Harness(cmd, os.path.join(work, "harness.log"))
    plan = schedule.build(a.seed, a.seconds) if a.workload == "serve_api" else None
    try:
        windows = serve_windows(h, plan, 1 + a.trace, n) if plan else []
    finally:
        code = h.wait(deadline)
    log(f"harness exited {code}")
    with open(os.path.join(work, "harness.log")) as f:
        hlog = f.read()
    sys.stderr.writelines(line + "\n" for line in hlog.splitlines()
                          if line.startswith("[graftbench]"))
    if code != 0:
        sys.stderr.write(hlog[-4000:])
        return 1
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    un = res["untraced"]

    if plan:
        recs = windows[0]
        e2e = serve_e2e(recs, un)
        attempted = len(recs)
        failed = sum(1 for r in recs if r["status"] != 200)
        samples = [(plan[k][2], r["body"]) for k, r in enumerate(recs) if r["body"] is not None]
        fails = checks.serve(res["store_dir"], samples)
    else:
        e2e = suite_e2e(un)
        attempted = sum(len(v) for v in un["query_s"].values())
        failed = 0
        fails = checks.query_suite(root, res["outputs"]["tables_dir"], res["outputs"]["out_dir"])
    log("checked")
    failed += len(fails)
    attempted = max(attempted, failed)
    e2e["setup_s"] = res["session_s"] + schedule.median(res["setup_reps_s"])
    e2e["live_heap_mb"] = un["live_old_mb"]

    if a.trace:
        tr = res["traced"]
        spans, probe = (read_spans(os.path.join(work, f))
                        for f in ("spans.jsonl", "probe_spans.jsonl"))
        units = per_layer_units()
        lm = {k: 0.0 for k in units}
        if plan:
            lm.update(trace_layers(spans, probe, tr, 1, un, 1))
            lm.update(serve_layers(windows[1], tr, spans))
            lm.update({"ingest.convert_s": res["convert_s"], "ingest.store_bytes": res["store_bytes"],
                       "ingest.store_files": res["store_files"], "ingest.rows": res["store_rows"]})
            lat = lambda w: schedule.median([r["latency_ms"] for r in w])  # noqa: E731
            lm["trace.overhead_ratio"] = lat(windows[1]) / lat(windows[0])
        else:
            lm.update(trace_layers(spans, probe, tr, tr["passes"], un, un["passes"]))
            lm.update(suite_layers(tr))
            lm["trace.overhead_ratio"] = (suite_layers(tr)["queries.suite_s"]
                                          / suite_layers(un)["queries.suite_s"])
        lm["fail_ratio"] = failed / attempted
        metrics = {k: {"value": float(lm[k]), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    prov = dict(res["provenance"], seed=a.seed, workload=a.workload, source=source_id(root),
                heap_flag=build.heap(), steal_s=un["steal_s"], gc_s=un["gc_s"],
                timed_wall_s=un["wall_s"])
    print("provenance " + json.dumps(prov, sort_keys=True))
    for msg in fails:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
