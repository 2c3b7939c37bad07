"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: olap_suite, wire_rw,
stream_drains (see README.md). With --trace 0 the last stdout line
carries the end-to-end metrics; with --trace 1 it carries the
per-layer metrics of a traced run, whose overhead figure
(trace.e2e_delta_s) is taken against an untraced run of the same code,
workload, seed and seconds: the sidecar of one, or else one run as a
child process first.
The line before it is a compact
summary; full per-op detail (and spans, when tracing) goes to
.bench_build/perfbench/results/<workload>-seed<N>-trace<T>.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import sparkinfo
import wire

PROCESS_AGE0 = sparkinfo.process_age_s()
PERF0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("olap_suite", "wire_rw", "stream_drains")

E2E_UNITS = {
    "setup_s": "s",
    "heavy_s": "s",
    "light_s": "s",
}

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes")

# name -> unit. Totals are per pass over the schedule on olap_suite and
# stream_drains and per statement on wire_rw; a layer a workload does
# not reach reads 0.
PER_LAYER = {
    "plans.build_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "spark.plan_s": "s",
    "spark.plan_nodes": "count",
    "spark.plan_tree_bytes": "B",
    "spark.exec_fetch_s": "s",
    **{f"spark.{k}": ("s" if k.endswith("_s") else "B" if k.endswith("bytes") else "count")
       for k in SPARK_KEYS},
    "spark.python_eval_s": "s",
    "fetch.rows": "count",
    "fetch.bytes": "B",
    "registry.prepared_s": "s",
    "server.rtt_s": "s",
    "server.self_s": "s",
    "engine.session_s": "s",
    **{f"engine.sql_s.{k}": "s" for k in wire.ENGINE_KINDS},
    **{f"engine.jobs_per_stmt.{k}": "count" for k in wire.ENGINE_KINDS},
    **{f"engine.files_rewritten_per_stmt.{k}": "count" for k in wire.FILE_KINDS},
    **{f"engine.bytes_rewritten_per_stmt.{k}": "B" for k in wire.FILE_KINDS},
    "engine.space_amp": "ratio",
    "wire.stmts_per_s": "1/s",
    "wire.read_tail_s": "s",
    "catalog.calls": "count",
    "catalog.s": "s",
    "dialect.calls": "count",
    "dialect.s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_wait_s": "s",
    "bench.heavy_p50_ms": "ms",
    "bench.light_p50_ms": "ms",
    "bench.self_s": "s",
    "bench.error_rate": "ratio",
    "trace.spans": "count",
    "trace.overhead_est_s": "s",
    "trace.e2e_delta_s": "s",
    "trace.layer_sum_misses": "count",
    "host.calib_s": "s",
    "host.calib_after_s": "s",
    "host.loadavg": "load",
    "host.peak_rss_mb": "MiB",
}

# Layer-sum check: per op, the span self times must add up to the
# measured wall time within this much, and the root span of an op that
# only calls into layers may leave no more than this uncovered.
LAYER_SUM_ABS_S = 0.002
LAYER_SUM_REL = 0.01
BARE_ROOTS = frozenset({"olap.cold", "olap.fresh", "registry.prepared", "stream.drain"})

DIALECT_FUNCS = ("strip_comments", "split_top_level", "first_words", "substitute_variables",
                 "strip_dual", "like_to_regex", "split_statements")


def sql_kind(text: str) -> str:
    words = text.split(None, 1)
    head = words[0].upper() if words else ""
    if head == "INSERT" and "ON DUPLICATE KEY" in text.upper():
        return "odku"
    return {"INSERT": "insert", "REPLACE": "replace", "UPDATE": "update",
            "DELETE": "delete", "MERGE": "merge", "SELECT": "select",
            "WITH": "select"}.get(head, "other")


def install_tracing(tracer) -> None:
    """Wrap the public entry points of the program's layers in spans."""
    import inspect

    import spans
    import sparrow_spark.catalog as catalog
    import sparrow_spark.dialect as dialect
    import sparrow_spark.engine as engine
    import sparrow_spark.server as server
    import sparrow_spark.sources as sources
    import sparrow_spark.streaming.engine_upsert as engine_upsert

    spans.patch_function(tracer, sources, "load_table", "sources.load_table")
    for fn in DIALECT_FUNCS:
        spans.patch_function(tracer, dialect, fn, "dialect")
    for name, fn in list(vars(catalog.EngineCatalog).items()):
        if not name.startswith("_") and inspect.isfunction(fn):
            spans.patch_method(tracer, catalog.EngineCatalog, name, "catalog")
    spans.patch_method(tracer, engine.Engine, "sql",
                       lambda self, text: "engine.sql." + sql_kind(text))
    for name in ("sql", "prepare", "execute_prepared"):
        spans.patch_method(tracer, engine.Session, name, "engine.session")
    spans.patch_function(tracer, engine_upsert, "apply_batch", "streaming.apply_batch")
    # The server runs a SELECT's Spark job when it collects the rows to
    # send, outside Session.sql; without this span that job would count
    # as the server's own time.
    spans.patch_method(tracer, server._Conn, "_materialize", "spark.exec_fetch")


def trace_layers(run, result: dict, span_cost: float) -> tuple[dict, list]:
    import spans
    import stats

    # Spans outside any op (set-up, the final checks) are not layer time.
    recs = [r for r in run.tracer.spans if r[5] is not None]
    norm = max(result["norm"], 1)
    totals = spans.layer_totals(recs)

    def self_s(name):
        return totals.get(name, {}).get("self_s", 0.0)

    def calls(name):
        return totals.get(name, {}).get("calls", 0)

    out = {
        "plans.build_s": self_s("plans.build") / norm,
        "sources.load_table_s": self_s("sources.load_table") / norm,
        "sources.load_table_calls": calls("sources.load_table") / norm,
        "spark.plan_s": self_s("spark.plan") / norm,
        "spark.exec_fetch_s": self_s("spark.exec_fetch") / norm,
        "engine.session_s": self_s("engine.session") / norm,
        "catalog.calls": calls("catalog") / norm,
        "catalog.s": self_s("catalog") / norm,
        "dialect.calls": calls("dialect") / norm,
        "dialect.s": self_s("dialect") / norm,
        "bench.self_s": sum(self_s(n) for n in ("olap.cold", "olap.fresh",
                                                "registry.prepared", "stream.drain")) / norm,
    }
    timed = {op: s for op, s in run.spark_stats.items() if "#prepared" not in op}
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = sum(s[k] for s in timed.values()) / norm
    if calls("server.rtt"):  # wire_rw: every op is one statement's round trip
        out["server.rtt_s"] = sum(run.walls.values()) / len(run.walls)
        out["server.self_s"] = self_s("server.rtt") / calls("server.rtt")
    durs: dict[str, list[float]] = {}
    for _sid, name, start, end, _parent, op in recs:
        if name.startswith("engine.sql.") and end is not None:
            kind = "dup" if op and op.startswith("dup#") else name.rsplit(".", 1)[1]
            durs.setdefault(kind, []).append(end - start)
    for kind in wire.ENGINE_KINDS:
        if durs.get(kind):
            out[f"engine.sql_s.{kind}"] = stats.median(durs[kind])
    misses = spans.layer_sum_check(recs, run.walls, LAYER_SUM_ABS_S, LAYER_SUM_REL,
                                   BARE_ROOTS)
    out["trace.spans"] = len(recs)
    out["trace.overhead_est_s"] = len(recs) * span_cost / norm
    out["trace.layer_sum_misses"] = len(misses)
    return out, misses


def code_digest() -> str:
    """Digest of the program's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in ("sparrow_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def untraced_reference(args, results_dir: str, digest: str) -> dict:
    """heavy_s + light_s of an untraced run of the same code, workload,
    seed and seconds, for the traced-minus-untraced overhead: from that
    run's sidecar when there is one, else from this command run with
    --trace 0 in a child process that ends before this run starts
    Spark."""
    t0 = time.perf_counter()
    try:
        with open(os.path.join(results_dir,
                               f"{args.workload}-seed{args.seed}-trace0.json")) as f:
            prev = json.load(f)
        env = prev["env"]
        if (env.get("code_digest") == digest and env["seed"] == args.seed
                and env["seconds"] == args.seconds and prev["failed"] == 0):
            return {"error": None, "source": "sidecar", "wall_s": 0.0,
                    "e2e_s": prev["e2e"]["heavy_s"][0] + prev["e2e"]["light_s"][0]}
    except (OSError, ValueError, KeyError):
        pass
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    ref: dict = {"error": None, "source": "child", "e2e_s": None}
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=150, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        m = res["metrics"]
        ref["e2e_s"] = m["heavy_s"]["value"] + m["light_s"]["value"]
        if p.returncode != 0 or not res["correct"]:
            ref["error"] = f"untraced reference run: exit {p.returncode}, {res['failed']} failed"
    except (subprocess.TimeoutExpired, ValueError, IndexError, KeyError) as e:
        ref["error"] = f"untraced reference run: {e!r:.200}"
    ref["wall_s"] = time.perf_counter() - t0
    return ref


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparrow_spark")):
        print(f"perfbench: no sparrow_spark package under {ROOT}", file=sys.stderr)
        return 2
    import harness

    if not os.path.isdir(harness.SF_DIR):
        print(f"perfbench: fixture tables not found at {harness.SF_DIR}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    digest = code_digest()
    ref = untraced_reference(args, results_dir, digest) if args.trace else None
    dirs = harness.prepare_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir, results_dir, dirs, ref, digest)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # Flush this run's writes now, so that their write-back does not
        # land in the next run's timings.
        os.sync()


def _run(args, run_dir: str, results_dir: str, dirs: dict, ref: dict | None,
         digest: str) -> int:
    import harness
    import spans
    import workloads
    from sparrow_spark import registry

    phases = {"start": PROCESS_AGE0 or 0.0}
    mark = [time.perf_counter()]
    # Set-up runs from process start, less the untraced reference run.
    setup_t0 = PERF0 - (PROCESS_AGE0 or 0.0) + (ref["wall_s"] if ref else 0.0)

    def phase(name):
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    spark = harness.start_spark(dirs)
    try:
        phase("spark_session")
        registry.load_all()
        phase("load_all")
        run = harness.Run(args, run_dir, spark)
        span_cost = 0.0
        if run.tracer:
            span_cost = spans.span_cost()
            install_tracing(run.tracer)
        # Set-up ends with a warm-up, so that the first timed op does not
        # pay the JVM's class loading and first compiles.
        ctx = None
        if args.workload == "wire_rw":
            ctx = workloads.wire_setup(run)
        elif args.workload == "olap_suite":
            workloads.olap_setup(run)
        else:
            workloads.stream_setup(run)
        phase("workload_setup")
        # Set-up ends here. The load sentinel that follows is a fixed job
        # that only host load moves, so it is kept out of setup_s.
        setup_s = time.perf_counter() - setup_t0
        harness.calibrate(spark)  # compiles the sentinel's plan
        loadavg = os.getloadavg()[0]
        calib_before = harness.calibrate(spark)
        phase("sentinel")
        steal0 = sparkinfo.cpu_steal_s()
        try:
            if args.workload == "olap_suite":
                result = workloads.olap_suite(run)
            elif args.workload == "wire_rw":
                result = workloads.wire_rw(run, ctx)
            else:
                result = workloads.stream_drains(run)
        finally:
            if ctx is not None:
                workloads.wire_teardown(ctx)
        steal = sparkinfo.cpu_steal_s() - steal0
        calib_after = harness.calibrate(spark)
        rss = sparkinfo.peak_rss_mb(harness.jvm_pid())
    finally:
        harness.stop_spark(spark)

    e2e = {"setup_s": (setup_s, 1), **result["e2e"]}
    if ref and ref["error"]:
        run.attempted += 1
        run.fail("untraced_reference", ref["error"])
    failed = len(run.failed_ops)
    attempted = max(run.attempted, 1)
    env = {"nproc": harness.nproc(), "master": f"local[{harness.nproc()}]",
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "sf_dir": harness.SF_DIR, "code_digest": digest, "host.calib_s": [calib_before, calib_after],
           "loadavg": [loadavg, os.getloadavg()[0]], "steal_s": steal,
           "setup_phases_s": phases}
    layers = {}
    misses: list = []
    if run.tracer:
        layers, misses = trace_layers(run, result, span_cost)
    layers.update(result["layers"])
    layers["host.calib_s"] = calib_before
    layers["host.calib_after_s"] = calib_after
    layers["host.loadavg"] = loadavg
    layers["host.peak_rss_mb"] = rss
    layers["bench.error_rate"] = failed / attempted
    if ref:
        env["untraced_reference"] = ref
        if ref["e2e_s"] is not None:
            layers["trace.e2e_delta_s"] = (e2e["heavy_s"][0] + e2e["light_s"][0]
                                           - ref["e2e_s"])
    sidecar = os.path.join(results_dir,
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(sidecar, "w") as f:
        json.dump({"workload": args.workload, "env": env, "e2e": e2e,
                   "per_layer": layers, "attempted": attempted, "failed": failed,
                   "errors": run.errors, "layer_sum_misses": misses,
                   "walls": run.walls, "spark_stats": run.spark_stats,
                   "detail": result["detail"],
                   "spans": run.tracer.spans if run.tracer else None}, f)

    correct = failed == 0 and not misses
    summary = {"perfbench": args.workload, "env": env,
               "e2e": {k: [v, E2E_UNITS[k], n] for k, (v, n) in e2e.items()},
               "p50_ms": [result["layers"]["bench.heavy_p50_ms"],
                          result["layers"]["bench.light_p50_ms"]],
               "peak_rss_mb": rss,
               "error_rate": failed / attempted,
               "errors": run.errors[:3],
               "sidecar": os.path.relpath(sidecar, ROOT)}
    if "top5_fresh" in result["detail"]:
        summary["top5_fresh"] = result["detail"]["top5_fresh"]
    print(json.dumps(summary, default=float))
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
