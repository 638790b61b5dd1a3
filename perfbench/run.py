"""Repository benchmark: runs one named workload for one seed and prints
its metrics.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 25 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the full record of the run (every
figure, the host context and the traced/untraced comparison); the record
is also appended to ``.perfbench_work/results.jsonl``. ``--smoke`` runs
the same code on tiny inputs. Exits non-zero without a result line when
the engine cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import PIPELINE_ROWS, WORKLOADS, Settings  # noqa: E402

READ_KINDS = ("search", "row")
KINDS = ("search", "write", "status", "ingest", "row")
SPARK_KINDS = ("search", "write", "ingest", "row")
SPARK_FIELDS = ("jobs", "stages", *trace.STAGE_FIELDS)

END_TO_END = {  # name -> unit; the last line of an untraced run
    "setup_s": "s",
    "read_cpu_s": "s",
    "run_cpu_s": "s",
}


def unit(name: str) -> str:
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "count"


# Per-layer metrics on a traced run's last line. Every workload exercises
# each of them, so none reads a constant 0; the layers only one workload
# reaches (engine endpoints, maintenance, registry rows, per-kind Spark
# figures) are in the full record's "per_layer".
PER_LAYER = {
    name: unit(name)
    for name in (
        "session.start_s", "setup.generate_s",
        "plan.build_s", "sink.exec_s", "sink.tail_s", "operators.knn.build_s",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "py4j.calls", *(f"spark.{f}" for f in SPARK_FIELDS), "jvm.cpu_s",
        "tables.load_s", "tables.load_calls", "cache.release_all_s",
        "spark.persisted_rdds", "unattributed_s", "process.peak_rss_mb",
    )
}


def med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float | None:
    xs = sorted(xs)
    if not xs:
        return None
    return float(xs[min(len(xs) - 1, int(q * len(xs)))])


def span_total(rec, name: str, self_only: bool = False) -> float:
    return sum(s.self_s if self_only else s.end - s.start for s in rec.spans if s.name == name)


def has_span(rec, name: str) -> bool:
    return any(s.name == name for s in rec.spans)


def end_to_end(out, session_s: float, jvm_hwm: float, run_cpu_s: float) -> dict:
    """The user-facing figures of one run (both trace modes compute them)."""
    ok = [r for r in out.records if r.ok]
    searches = [r for r in ok if r.kind == "search"]
    writes = [r.wall_s for r in ok if r.kind == "write"]
    return {
        "setup_s": session_s + out.setup_once_s + statistics.median(out.setup_reps_s) + out.warmup_s,
        "ops_per_s": len(ok) / sum(r.wall_s for r in out.records),
        "cpu_s_per_op": sum(r.cpu_s for r in out.records) / len(out.records),
        "run_cpu_s": run_cpu_s,
        "peak_rss_mb": jvm_hwm + trace.proc_hwm_mb(),
        # the full metric set of the workload; None where it has no such op
        "search_p50_s": med([r.wall_s for r in searches]) if searches else None,
        "search_p90_s": pct([r.wall_s for r in searches], 0.9),
        "search_samples": len(searches),
        "query_vectors_per_s": (
            sum(r.n_queries for r in searches) / sum(r.wall_s for r in searches) if searches else None
        ),
        "write_p50_s": med(writes) if writes else None,
        "write_samples": len(writes),
        "failed_ops_frac": out.failed / max(out.attempted, 1),
        **{k: v for k, v in out.extra.items() if k not in ("dump_bytes", "rows")},
    }


def per_layer(out, session_s: float, peak_rss_mb: float) -> dict:
    """Per-layer figures of a traced run: medians per window op unless
    noted; 0 where a workload does not reach the layer."""
    recs, setup = out.records, out.setup_records
    by = lambda kind, src=recs: [r for r in src if r.kind == kind]  # noqa: E731
    writes = by("write")
    reads = [r for r in recs if r.kind in READ_KINDS]
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    sink = lambda r: span_total(r, "sink.toPandas")  # noqa: E731
    loaders = [r for r in recs + setup if has_span(r, "tables.load")]
    m = {
        "session.start_s": session_s,
        "setup.generate_s": out.generate_s,
        "setup.warmup_s": out.warmup_s,
        "plan.build_s": med(r.wall_s - sink(r) for r in reads),
        "sink.exec_s": med(sink(r) for r in reads),
        "sink.tail_s": med(r.sink_tail_s for r in reads),
        "operators.knn.build_s": med(
            span_total(r, "operators.knn.knn_search") for r in recs
            if has_span(r, "operators.knn.knn_search")
        ),
        # integer ms per query: a mean keeps the digits a median would drop
        **{f"catalyst.{k}_ms": mean([r.catalyst_ms[k] for r in reads if r.catalyst_ms])
           for k in ("analysis", "optimization", "planning")},
        "py4j.calls": med(r.py4j_calls for r in recs),
        **{f"spark.{f}": med(r.spark.get(f) for r in recs) for f in SPARK_FIELDS},
        "jvm.cpu_s": med(r.spark.get("jvm_cpu_s") for r in recs),
        "tables.load_s": med(span_total(r, "tables.load") for r in loaders),
        "tables.load_calls": med(sum(s.name == "tables.load" for s in r.spans) for r in loaders),
        "cache.release_all_s": med(out.release_s),
        "spark.persisted_rdds": float(max((r.persisted_rdds or 0) for r in recs)),
        "unattributed_s": med(r.self_times()["unattributed"] for r in recs),
        "process.peak_rss_mb": peak_rss_mb,
        "engine.search.self_s": med(span_total(r, "engine.search", True) for r in by("search")),
        **{f"engine.{w}.self_s": med(span_total(r, f"engine.{w}", True)
                                     for r in writes if r.detail == w)
           for w in ("index", "update", "delete")},
        "engine.dump.self_s": med(span_total(r, "engine.dump", True) for r in writes),
        "engine.status_s": med(span_total(r, "engine.status") for r in by("status")),
    }
    mutating = writes + by("ingest", setup)
    m["operators.maintenance.upsert_build_s"] = med(
        span_total(r, "operators.maintenance.upsert") for r in mutating
        if has_span(r, "operators.maintenance.upsert")
    )
    m["operators.maintenance.dump_s"] = med(span_total(r, "operators.maintenance.dump") for r in mutating)
    m["operators.maintenance.dump_bytes"] = med(out.extra.get("dump_bytes", []))
    for k in KINDS:
        src = by(k, setup) if k == "ingest" else by(k)
        m[f"py4j.calls.{k}"] = med(r.py4j_calls for r in src)
        m[f"unattributed_s.{k}"] = med(r.self_times()["unattributed"] for r in src)
        if k in SPARK_KINDS:
            for f in SPARK_FIELDS:
                m[f"spark.{k}.{f}"] = med(r.spark.get(f) for r in src)
    for row in PIPELINE_ROWS:
        rr = [r for r in by("row") if r.detail == row]
        m[f"suites.build_s.{row}"] = med(span_total(r, f"suites.build.{row}") for r in rr)
        m[f"suites.exec_s.{row}"] = med(sink(r) for r in rr)
        m[f"py4j.calls.{row}"] = med(r.py4j_calls for r in rr)
    return m


def attribution(out) -> dict:
    """Per op kind: summed self time of every span name plus the
    ``unattributed`` remainder; together they equal the summed wall time."""
    table: dict[str, dict] = {}
    for r in out.records + out.setup_records:
        t = table.setdefault(r.kind, {"wall_s": 0.0, "self_s": {}})
        t["wall_s"] += r.wall_s
        for name, v in r.self_times().items():
            t["self_s"][name] = t["self_s"].get(name, 0.0) + v
    return table


def install_spans(tracer: trace.Tracer) -> None:
    """Spans around the engine's public functions (traced runs only)."""
    from executor_u1mindexer_spark import tables
    from executor_u1mindexer_spark.engine import U1MIndexerSpark
    from executor_u1mindexer_spark.operators import knn, maintenance

    for ep in ("search", "index", "update", "delete", "dump", "status"):
        tracer.wrap(U1MIndexerSpark, ep, f"engine.{ep}")
    tracer.wrap(knn, "knn_search", "operators.knn.knn_search")
    tracer.wrap(maintenance, "upsert", "operators.maintenance.upsert")
    tracer.wrap(maintenance, "dump", "operators.maintenance.dump")
    tracer.wrap(tables, "load", "tables.load")
    tracer.count_py4j()


def prepare_env(work: str) -> None:
    """One Spark local thread per available core, workers that can import
    the engine, and every temp file inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def previous_untraced(workload: str, seed: int, digest: str, smoke: bool) -> dict | None:
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return None
    found = None
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if (r["workload"], r["seed"], r["trace"], r["host"]["source_digest"], r["smoke"]) == (
                workload, seed, 0, digest, smoke
            ):
                found = r
    return found


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same code paths")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt the first checked result (tests the output checks)")
    a = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    load0, steal0, t_run = trace.loadavg(), trace.steal_s(), time.perf_counter()
    tracer = trace.Tracer(bool(a.trace))
    spark = None
    try:
        t, c = time.perf_counter(), time.process_time()
        from executor_u1mindexer_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s, session_cpu_s = time.perf_counter() - t, time.process_time() - c
        install_spans(tracer)
        s = Settings(a.seed, a.seconds, bool(a.trace), a.smoke, run_dir, a.inject_fault)
        out = WORKLOADS[a.workload](spark, tracer, s)
        jvm_hwm = trace.proc_hwm_mb(trace.jvm_pid(spark))
        # the JVM tree's CPU since it started, plus this process's CPU in
        # session start and inside ops: input generation and the output
        # checks are the benchmark's own work and stay out
        run_cpu_s = trace.tree_cpu_s(trace.jvm_pid(spark)) + session_cpu_s + sum(
            r.client_cpu_s for r in out.records + out.setup_records
        )
        host = trace.host_context(ROOT, spark)
    finally:
        tracer.unpatch()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    host["loadavg_start"], host["loadavg_end"] = load0, trace.loadavg()
    host["run_wall_s"] = time.perf_counter() - t_run
    host["steal_s"] = trace.steal_s() - steal0  # CPU time the hypervisor took away

    e2e = end_to_end(out, session_s, jvm_hwm, run_cpu_s)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "smoke": a.smoke, "host": host, "attempted": out.attempted, "failed": out.failed,
        "problems": out.problems[:20], "end_to_end": e2e,
        "units": {**END_TO_END, "read_p50_s": "s", "ops_per_s": "1/s", "cpu_s_per_op": "s",
                  "peak_rss_mb": "MB", "search_p50_s": "s", "search_p90_s": "s",
                  "query_vectors_per_s": "1/s", "write_p50_s": "s",
                  "ingest_docs_per_s": "1/s", "pipeline_pass_s": "s",
                  "failed_ops_frac": "ratio", "stored_bytes_per_user_byte": "ratio"},
        "op_counts": {k: sum(r.kind == k for r in out.records) for k in KINDS},
        "ops": [[r.kind, r.detail or r.n_queries, round(r.wall_s, 4), round(r.cpu_s, 2), r.ok,
                 round(r.steal_s, 2)]
                for r in out.records],
        "setup_reps_s": out.setup_reps_s,
        "row_order": out.extra.get("rows"),
    }
    if a.trace:
        record["per_layer"] = per_layer(out, session_s, e2e["peak_rss_mb"])
        record["attribution"] = attribution(out)
        base = previous_untraced(a.workload, a.seed, host["source_digest"], a.smoke)
        if base is not None:
            record["trace_overhead"] = {
                k: e2e[k] - base["end_to_end"][k] for k in END_TO_END if k in base["end_to_end"]
            }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    if a.trace:
        metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # an exception exits 1 with its traceback, before any result line
    sys.exit(main())
